"""The committed BENCHMARK.json is the one manifest.py writes.

    python3 -m pytest perfbench -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import manifest  # noqa: E402


def test_committed_manifest_is_current():
    with open(manifest.PATH) as f:
        assert f.read() == manifest.text(), "run: python3 perfbench/manifest.py"


def test_manifest_limits():
    m = manifest.manifest()
    names = [x["name"] for x in m["end_to_end"] + m["per_layer"]]
    assert len(names) == len(set(names))
    assert len(m["per_layer"]) <= 128
    assert all(len(w["why"]) <= 200 for w in m["workloads"])
    bounds = {x["name"]: x["bound"] for x in m["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
