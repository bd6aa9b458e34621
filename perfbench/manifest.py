"""Writes ``BENCHMARK.json`` at the repo root from the benchmark's own
definitions, so the listed metrics always match what ``run.py`` prints.

    python3 perfbench/manifest.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PATH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from workloads import LAYERS, WORKLOADS  # noqa: E402

RUN_SECONDS = 25

#: ``ts_chain`` and ``corpus_chain`` together call all nine layers; a run
#: of each takes about a minute on a 4-core box, so 22 seeds of both fit
#: in under an hour, where three workloads would not.
#: ``model_fits`` runs the same way from the command line.
LISTED = ("ts_chain", "corpus_chain")

#: (name, unit, better, bound): what ``run.measure`` reports. Over ten
#: seeds on a shared 4-core box the quartile spread, as a share of the
#: median, of wall_s and rows_per_s reached 0.14 and that of cpu_s 0.18
#: (load from other tenants moves whole processes), so the time bounds
#: sit at the 0.25 ceiling.
END_TO_END = (
    ("wall_s", "s", "lower", 0.25),
    ("rows_per_s", "1/s", "higher", 0.25),
    ("cpu_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
    ("setup_s", "s", "lower", 0.25),
    ("ok_share", "share", "higher", 0.01),
)

#: (name, unit, better): per-layer ratios and the tracing cost, reported
#: by ``run.measure_traced`` after the per-layer counters
RATIOS = (
    ("models.fit.ok_share", "share", "higher"),
    ("pipeline.dedup.verified_per_candidate", "ratio", "higher"),
    ("trace_overhead_s", "s", "lower"),
)

LAYER_COUNTERS = eventlog.COUNTERS + ("build_s", "exec_s")


def manifest() -> dict:
    per_layer = [
        (f"{layer}.{c}", eventlog.unit(c), "lower")
        for layer in LAYERS
        for c in LAYER_COUNTERS
    ] + list(RATIOS)
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": WORKLOADS[n].why} for n in LISTED],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in per_layer],
    }


def text() -> str:
    return json.dumps(manifest(), indent=2) + "\n"


if __name__ == "__main__":
    with open(PATH, "w") as f:
        f.write(text())
    print(f"wrote {PATH}")
