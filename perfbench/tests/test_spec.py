"""BENCHMARK.json names exactly the metrics the run prints."""

from __future__ import annotations

import json
import re
from pathlib import Path

import run
import tracing
from test_tracing import SPANS
from workloads import WORKLOADS

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_workloads_and_names_are_well_formed():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in SPEC[key]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    assert {"name": "setup_s", "unit": "s", "better": "lower",
            "bound": max(m["bound"] for m in SPEC["end_to_end"])} in SPEC["end_to_end"]


def test_end_to_end_metrics_match_the_run():
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == list(run.END_TO_END)


def test_per_layer_metrics_match_the_traced_run():
    names = list(tracing.layer_metrics(SPANS, [], {"jobs": [], "tasks": []}, 4))
    names += tracing.RUN_METRICS
    assert [m["name"] for m in SPEC["per_layer"]] == names
    assert all(m["unit"] == tracing.unit(m["name"]) for m in SPEC["per_layer"])
