"""BENCHMARK.json must describe exactly what run.py reports."""

import json
from pathlib import Path

import bench
from workloads import END_TO_END, HEADLINE_MIX, LAYER, WORKLOADS

ROOT = Path(__file__).resolve().parents[2]
CONFIG = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_top_level_keys():
    assert set(CONFIG) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert CONFIG["command"] == ["python3", "perfbench/run.py"]
    assert CONFIG["paths"] == ["perfbench"]


def test_workloads_match():
    assert [w["name"] for w in CONFIG["workloads"]] == list(WORKLOADS)


def test_metrics_match_names_and_units():
    assert [(m["name"], m["unit"]) for m in CONFIG["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in CONFIG["per_layer"]] == LAYER


def test_bounds():
    bounds = {m["name"]: m["bound"] for m in CONFIG["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_mix_is_drawn_from_the_headline():
    assert set(HEADLINE_MIX) <= set(bench.HEADLINE)
    assert len(set(HEADLINE_MIX)) == len(HEADLINE_MIX)
    layer = {name for name, _ in LAYER}
    for q in HEADLINE_MIX:
        assert {f"q.{q}.build_s", f"q.{q}.jobs", f"q.{q}.noop_ratio"} <= layer
