"""End-to-end benchmark of spark_timeseries_spark's composed pipelines.

    python3 perfbench/run.py --workload ts_chain --seed 1 --seconds 15 --trace 0

One closed-loop client on ``local[N]`` (N = usable cores, shuffle
partitions = N) runs the workload's pipeline back to back for
``--seconds`` and prints, as its last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs each library call under its
own job group, materializes its output, and reports per-layer counters
read from Spark's event log (see README.md in this directory).

Everything the run writes goes under ``.perfbench_work/`` at the repo
root, which is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DEFAULT_SEED = 1
#: discarded runs in set-up: the cold first run, then one more while the
#: JIT still compiles the hot paths (on a 4-core box the second run is
#: still 10-40% slower than the ones after it)
WARMUP_RUNS = 2
EXPECTED = os.path.join(HERE, "expected.json")

def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# process accounting from /proc: the JVM and every descendant (the Python
# worker daemon and its forked workers)
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_cpu_s(root: int) -> float:
    """User+system seconds of the live tree plus its reaped children."""
    total = 0
    for pid in process_tree(root):
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in process_tree(root):
        st = _stat(pid)
        if st:
            total += int(st[21])
    return total * _PAGE / 2**20


class PeakRss(threading.Thread):
    """Samples the tree's summed RSS every 100 ms until stopped."""

    def __init__(self, root: int):
        super().__init__(daemon=True)
        self.root, self.peak = root, 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(0.1):
            self.peak = max(self.peak, tree_rss_mb(self.root))

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of the box, between 1 and 2 GiB. The heap is committed
    and touched at start (``-Xms`` = ``-Xmx``, ``AlwaysPreTouch``), so
    ``peak_rss_mb`` does not follow the collector's heap-growth choices:
    it moves with native memory and Python workers, heap pressure shows
    in ``gc_ms``."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1024, min(2048, total_kb // 4096))


def start_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    n, mem = cores(), driver_memory_mb()
    jvm_opts = (
        f"-Xms{mem}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # a corpus_chain run generates ~180 distinct classes; with the
        # default 100-entry cache every run recompiles them all, and the
        # JIT compiling the fresh classes steals cores from the run
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", f"{mem}m")
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", os.path.join(work, "eventlog"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown_jvm() -> None:
    """Stop the gateway JVM (and with it the Python worker daemon) and
    wait until every process of the tree has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    pids = process_tree(proc.pid)
    try:
        gw.shutdown()
    except Exception:
        pass
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(_stat(p) for p in pids[1:]):
        time.sleep(0.1)
    for p in pids[1:]:
        if _stat(p):
            try:
                os.kill(p, 9)
            except OSError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# one pipeline execution
# ---------------------------------------------------------------------------

def leftovers(spark) -> list[str]:
    """Release what a run left behind; name what it should not have.

    Cached DataFrames still registered after the run's own releases are a
    leak. After ``clearCache()`` any persisted RDD that is not a local
    checkpoint is a leak too. Local checkpoints (the library's lineage
    cuts, the traced runner's boundaries) are reclaimed by the context
    cleaner only once garbage-collected, so they are unpersisted here."""
    problems = []
    cm = spark._jsparkSession.sharedState().cacheManager()
    if not cm.isEmpty():
        problems.append("cached DataFrames still registered after release")
    spark.catalog.clearCache()
    gc.collect()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(rdds.keySet().toArray()):
        jrdd = rdds.get(rid)
        if not jrdd.rdd().isLocallyCheckpointed():
            problems.append(f"RDD {rid} ({jrdd.name()}) still persisted")
        jrdd.unpersist(True)
    return problems


def run_pipeline(spark, w, data_dir: str, trace_tag: str | None = None):
    """Run every stage then the sink; returns (digest, spans).

    With ``trace_tag`` each stage runs under job group
    ``<layer>#<trace_tag>`` and its DataFrame output is materialized with
    ``localCheckpoint(eager=True)``; spans are ``(layer, build_s,
    exec_s)``."""
    from workloads import Run

    sc = spark.sparkContext
    run = Run(spark, data_dir)
    spans = []
    out = None
    try:
        for layer, fn in w.stages():
            if trace_tag is not None:
                sc.setJobGroup(f"{layer}#{trace_tag}", layer)
            t0 = time.perf_counter()
            new = fn(run, out)
            t1 = time.perf_counter()
            if trace_tag is not None and new is not out:
                new = new.localCheckpoint(eager=True)
            out = new
            spans.append((layer, t1 - t0, time.perf_counter() - t1))
        if trace_tag is not None:
            sc.setJobGroup(f"bench.sink#{trace_tag}", "sink")
        digest = w.sink(run, out)
    finally:
        if trace_tag is not None:
            sc.setJobGroup("bench", "bench")
        for release in run.release:
            release()
    return digest, spans


def attempt(spark, w, data_dir: str, trace_tag: str | None = None):
    """``run_pipeline``'s result and no problems, or None and the error."""
    try:
        return run_pipeline(spark, w, data_dir, trace_tag), []
    except Exception:
        return None, [traceback.format_exc()]


def check(w, digest: dict, first: dict | None, seed: int) -> list[str]:
    """Invariants for every seed; the committed digest for the default
    seed; and the same digest on every run of one benchmark process."""
    problems = list(w.invariants(digest, w.size))
    if first is not None and digest != first:
        problems.append(f"digest changed between runs: {first} -> {digest}")
    if seed == DEFAULT_SEED:
        with open(EXPECTED) as f:
            want = json.load(f).get(w.name)
        if want is None:
            problems.append("no committed digest for the default seed")
        elif want["size"] != w.size:
            problems.append(f"committed digest is for size {want['size']}, not {w.size}")
        else:
            problems += digest_mismatch(want["digest"], digest)
    return problems


def digest_mismatch(want: dict, got: dict) -> list[str]:
    out = []
    for k, v in want.items():
        g = got.get(k)
        if k == "param_sums":
            bad = [m for m in v if abs(g.get(m, 0.0) - v[m]) > 1e-3 * max(1.0, abs(v[m]))]
            if bad:
                out.append(f"param sums differ for {bad}: {g} vs {v}")
        elif g != v:
            out.append(f"{k}: got {g}, committed {v}")
    return out


# ---------------------------------------------------------------------------
# set-up and measurement
# ---------------------------------------------------------------------------

def set_up(w, args, work: str):
    """Write the seed's inputs (untimed), then time one cold set-up: launch
    the JVM and start the session, read the inputs once through the
    library's source layer, and make ``WARMUP_RUNS`` discarded warm-up
    runs. Returns (spark, data dir, input rows, setup_s)."""
    from spark_timeseries_spark.sources import load_table

    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir)
    rows = w.write(data_dir, args.seed, w.size)
    t0 = time.perf_counter()
    spark = start_session(work, args.trace)
    load_table(spark, data_dir, w.table).count()
    t1 = time.perf_counter()
    warm = []
    for _ in range(WARMUP_RUNS):
        t = time.perf_counter()
        digest, _ = run_pipeline(spark, w, data_dir)
        leftovers(spark)
        warm.append(time.perf_counter() - t)
    setup_s = time.perf_counter() - t0
    log(f"set-up: session and read {t1 - t0:.3f} s, warm-up runs "
        f"{[round(x, 3) for x in warm]} s, digest {digest}")
    return spark, data_dir, rows, setup_s


def measure(spark, w, args, data_dir: str, rows: int, setup_s: float) -> dict:
    from manifest import END_TO_END

    root = jvm_pid()
    rss = PeakRss(root)
    rss.start()
    walls, cpus, first = [], [], None
    attempted = failed = 0
    deadline = time.perf_counter() + args.seconds
    while True:
        attempted += 1
        c0, t0 = tree_cpu_s(root), time.perf_counter()
        result, problems = attempt(spark, w, data_dir)
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s(root) - c0)
        if result is not None:
            problems = check(w, result[0], first, args.seed)
            first = first or result[0]
        problems += leftovers(spark)
        if problems:
            failed += 1
            log(f"run {attempted} failed:", *problems)
        if time.perf_counter() + walls[-1] / 2 >= deadline:
            break
    peak = rss.stop()
    wall = statistics.median(walls)
    log(f"{attempted} runs, wall_s {[round(x, 3) for x in walls]}")
    values = {
        "wall_s": wall,
        "rows_per_s": rows / wall,
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": peak,
        "setup_s": setup_s,
        "ok_share": (attempted - failed) / attempted,
    }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u, _, _ in END_TO_END},
    }


_DISTINCT_PAIRS = re.compile(r"HashAggregate\(keys=\[id_a#\d+L?, id_b#\d+L?\], functions=\[\]\)")


def lsh_candidates(plan: dict) -> list[dict]:
    """The distinct over ``(id_a, id_b)`` that ends ``dedup_minhash_lsh``'s
    candidate stage: its final aggregate, the one with the partial
    aggregate beneath it."""
    import eventlog

    def distinct(node):
        return _DISTINCT_PAIRS.match(node["simpleString"]) is not None

    return [
        n for n in eventlog.plan_nodes(plan)
        if distinct(n) and sum(map(distinct, eventlog.plan_nodes(n))) > 1
    ]


def jaccard_threshold(plan: dict) -> list[dict]:
    """The operator that keeps candidate pairs at or above the Jaccard
    threshold: a filter, or the join the optimizer pushed it into."""
    import eventlog

    return [n for n in eventlog.plan_nodes(plan) if "array_intersect(" in n["simpleString"]]


def measure_traced(spark, w, args, data_dir: str, work: str) -> dict:
    """Alternate a plain run and a traced run until ``--seconds`` pass,
    and at least twice, so counts that differ between traced runs can be
    named; per-layer counters are medians over the traced runs."""
    import eventlog
    from manifest import LAYER_COUNTERS, RATIOS
    from workloads import LAYERS, fit_ok_share

    sc = spark.sparkContext
    sc.setJobGroup("bench", "bench")
    plain, traced, runs = [], [], []
    attempted = failed = 0
    first = None
    deadline = time.perf_counter() + args.seconds
    while True:
        for tag in (None, str(len(traced))):
            attempted += 1
            t0 = time.perf_counter()
            result, problems = attempt(spark, w, data_dir, tag)
            (plain if tag is None else traced).append(time.perf_counter() - t0)
            if result is not None:
                digest, spans = result
                problems = check(w, digest, first, args.seed)
                first = first or digest
                if tag is not None:
                    runs.append((tag, spans, digest))
            problems += leftovers(spark)
            if problems:
                failed += 1
                log(f"run {attempted} failed:", *problems)
        pair_s = plain[-1] + traced[-1]
        if len(traced) >= 2 and time.perf_counter() + pair_s / 2 >= deadline:
            break
    app = sc.applicationId
    spark.stop()  # flushes the event log
    events = list(eventlog.read_events(os.path.join(work, "eventlog", app)))
    groups = eventlog.counters_by_group(events)
    candidates = eventlog.plan_rows(events, lsh_candidates)
    verified = eventlog.plan_rows(events, jaccard_threshold)
    ratios = [
        verified.get(g, 0) / candidates[g]
        for g in (f"pipeline.dedup#{tag}" for tag, _, _ in runs)
        if candidates.get(g)
    ]
    per_run = [
        {
            layer: {
                **groups.get(f"{layer}#{tag}", eventlog.empty()),
                "build_s": build_s,
                "exec_s": exec_s,
            }
            for layer, build_s, exec_s in spans
        }
        for tag, spans, _ in runs
    ]
    metrics, varying = {}, []
    for layer in LAYERS:
        for counter in LAYER_COUNTERS:
            vals = [r[layer][counter] for r in per_run if layer in r]
            if counter in eventlog.WORK_COUNTS and len(set(vals)) > 1:
                varying.append(f"{layer}.{counter}")
            metrics[f"{layer}.{counter}"] = {
                "value": statistics.median(vals) if vals else 0,
                "unit": eventlog.unit(counter),
            }
    ok = [fit_ok_share(d) for _, _, d in runs if "ok" in d]
    values = {
        "models.fit.ok_share": statistics.median(ok) if ok else 0,
        "pipeline.dedup.verified_per_candidate": statistics.median(ratios) if ratios else 0,
        "trace_overhead_s": statistics.median(traced) - statistics.median(plain),
    }
    metrics.update({n: {"value": values[n], "unit": u} for n, u, _ in RATIOS})
    log(f"{len(traced)} traced runs {[round(x, 3) for x in traced]}, "
        f"{len(plain)} plain runs {[round(x, 3) for x in plain]}")
    log("counts varying between traced runs: " + (", ".join(varying) or "none"))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    from manifest import RUN_SECONDS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-digest", action="store_true",
                   help="store the default seed's digest in expected.json")
    args = p.parse_args(argv)

    sys.path[:0] = [REPO, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    import spark_timeseries_spark  # fail before any set-up

    if not os.path.abspath(spark_timeseries_spark.__file__).startswith(REPO + os.sep):
        log(f"spark_timeseries_spark imported from outside {REPO}")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}")
        return 2
    w = WORKLOADS[args.workload]
    work = os.path.join(REPO, ".perfbench_work", f"{w.name}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "eventlog"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        spark, data_dir, rows, setup_s = set_up(w, args, work)
        if args.record_digest:
            return record_digest(spark, w, args, data_dir)
        if args.trace:
            result = measure_traced(spark, w, args, data_dir, work)
        else:
            result = measure(spark, w, args, data_dir, rows, setup_s)
            spark.stop()
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def record_digest(spark, w, args, data_dir: str) -> int:
    if args.seed != DEFAULT_SEED:
        log(f"--record-digest needs the default seed {DEFAULT_SEED}")
        return 2
    digest, _ = run_pipeline(spark, w, data_dir)
    problems = w.invariants(digest, w.size)
    if problems:
        log("not recording a digest that fails its invariants:", *problems)
        return 1
    spark.stop()
    table = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            table = json.load(f)
    table[w.name] = {"size": w.size, "digest": digest}
    with open(EXPECTED, "w") as f:
        json.dump(table, f, indent=2, sort_keys=True)
        f.write("\n")
    log(f"recorded {w.name}: {digest}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
