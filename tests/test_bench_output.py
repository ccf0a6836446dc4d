"""bench.py's stdout contract: the full payload is the last line."""

from __future__ import annotations

import json

import bench


def test_full_payload_is_the_last_stdout_line(capsys):
    payload = {
        "metric": "corpus_wall",
        "value": 1.5,
        "unit": "sec",
        "queries": {"pricing_summary": 1.0, "top_per_nation": 0.5},
        "failed": [],
        "sf": 0.1,
    }
    bench._emit(payload)
    lines = capsys.readouterr().out.splitlines()
    assert json.loads(lines[0]) == {"value": 1.5, "n": 2, "failed": []}
    last = json.loads(lines[-1])
    assert last["metric"] == "corpus_wall"
    assert last == payload
