"""tools.compare_bench exits with a message, not a traceback, when two
artifacts cannot be compared."""

import json

import pytest

from tools import compare_bench


def _artifact(path, queries):
    path.write_text(json.dumps({"value": sum(queries.values()),
                                "queries": queries}))
    return str(path)


def test_compare_bench_reports_speedup(tmp_path, capsys):
    before = _artifact(tmp_path / "b.json", {"q1": 2.0, "q2": 4.0, "q3": 0.0})
    after = _artifact(tmp_path / "a.json", {"q1": 1.0, "q2": 4.0, "q3": 1.0})
    compare_bench.main([before, after])
    out = capsys.readouterr().out
    assert "common rows: 3" in out
    assert "q1" in out and "2.00x" in out


@pytest.mark.parametrize(
    "before_q,after_q,message",
    [
        ({"q1": 1.0}, {"q2": 1.0}, "no query rows in common"),
        ({"q1": 1.0}, {"q1": 0.0}, "zero total"),
    ],
)
def test_compare_bench_exits_on_uncomparable(tmp_path, before_q, after_q,
                                             message):
    before = _artifact(tmp_path / "b.json", before_q)
    after = _artifact(tmp_path / "a.json", after_q)
    with pytest.raises(SystemExit, match=message):
        compare_bench.main([before, after])
