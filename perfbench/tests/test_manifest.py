"""BENCHMARK.json declares exactly the workloads and metrics the worker
runs and prints, with the same units."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import worker  # noqa: E402


def _manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_manifest_matches_worker():
    m = _manifest()
    assert {w["name"] for w in m["workloads"]} == set(worker.WORKLOADS)
    assert {e["name"]: e["unit"] for e in m["end_to_end"]} == worker.END_TO_END
    assert {e["name"]: e["unit"] for e in m["per_layer"]} == worker.PER_LAYER
    setup = next(e for e in m["end_to_end"] if e["name"] == "setup_s")
    assert setup["bound"] == max(e["bound"] for e in m["end_to_end"])
