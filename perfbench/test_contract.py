"""BENCHMARK.json names exactly the workloads and metrics run.py prints, and
the span recorder and output checks behave as the runner relies on."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import checks as C  # noqa: E402
from perfbench import run as R  # noqa: E402
from perfbench.spans import OFF, Tracer  # noqa: E402


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_runner():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(R.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == R.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == R.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_runner_refuses_without_package(tmp_path, monkeypatch):
    monkeypatch.setattr(R, "ROOT", str(tmp_path))
    assert R.main(["--workload", "crawl_cycle", "--seed", "1", "--seconds", "1"]) == 2


def test_spans_nest_and_wrap():
    class Store:
        def read(self, name):
            return name

    t = Tracer()
    store = Store()
    undo = t.wrap(store, {"read": "statestore.read"})
    with t.span("rep"):
        with t.span("run_wave"):
            assert store.read("seen") == "seen"
    undo()
    assert "read" not in store.__dict__
    paths = [s.path for s in t.spans]
    assert paths == ["rep/run_wave/statestore.read", "rep/run_wave", "rep"]
    assert t.named("statestore.read")[0].parent == "rep/run_wave"
    with OFF.span("x"):
        pass
    assert OFF.spans == [] and OFF.wrap(store, {"read": "r"})() is None


def test_robots_longest_match():
    assert not C.robots_allowed("/r/x", ["/r/"], [])
    assert C.robots_allowed("/r/public/x", ["/r/"], ["/r/public/"])
    assert not C.robots_allowed("/a/b.php", ["/*.php$"], ["/a/"])
    assert C.robots_allowed("/a/b.php5", ["/*.php$"], [])


def test_politeness_and_skew():
    rows = [{"wave_id": 0, "host": "h1.test"}] * 3
    assert C.politeness_ok(rows, [{"host": "h1.test", "per_wave_budget": 3}], 8)
    assert not C.politeness_ok(rows, [{"host": "h1.test", "per_wave_budget": 2}], 8)
    assert C.skew([4, 4, 8]) == 2.0 and C.skew([0, 0, 3]) == 3.0 and C.skew([]) == 0.0
