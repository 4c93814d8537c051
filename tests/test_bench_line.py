"""bench.py's printed line stays under the 2000-char stdout capture even
when the carried-forward window (bench_window.json) alone would not."""

from __future__ import annotations

import importlib
import json
import os


def _bench():
    # importing bench caps the BLAS env for the benchmark process; keep
    # that out of the test process
    env = dict(os.environ)
    try:
        return importlib.import_module("bench")
    finally:
        os.environ.clear()
        os.environ.update(env)


def test_oversized_window_is_trimmed_from_its_tail(tmp_path):
    bench = _bench()
    per_query = {
        f"some_long_operator_name_{i:04d}": 1.0 + i / 1000 for i in range(600)
    }
    window = sorted(per_query)[:300]  # alone ~12,000 chars of queries map
    path = tmp_path / "bench_window.json"
    path.write_text(json.dumps(window))
    head = {"metric": "p50_query_seconds", "value": 0.42, "unit": "sec"}

    line = bench.summary_line(head, per_query, str(path))

    assert len(line) <= bench.LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["value"] == 0.42
    kept = list(parsed["queries"])
    # the window's head survives, in order; its tail and every extra go
    assert kept == window[: len(kept)] and 0 < len(kept) < len(window)


def test_small_window_keeps_window_then_slowest(tmp_path):
    bench = _bench()
    per_query = {"a": 0.1, "b": 0.2, "c": 0.3}
    path = tmp_path / "bench_window.json"
    path.write_text(json.dumps(["a", "gone"]))

    line = bench.summary_line({"value": 0.2}, per_query, str(path))

    assert list(json.loads(line)["queries"]) == ["a", "c", "b"]
    missing = bench.summary_line({}, per_query, str(tmp_path / "none.json"))
    assert list(json.loads(missing)["queries"]) == ["c", "b", "a"]
