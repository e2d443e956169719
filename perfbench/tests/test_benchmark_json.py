"""BENCHMARK.json names exactly the metrics and workloads run.py reports."""

import json
import os
import re

import run
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match():
    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)


def test_end_to_end_metrics_match():
    spec = _spec()["end_to_end"]
    assert [(m["name"], m["unit"]) for m in spec] == list(run.E2E)
    setup = [m for m in spec if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec)
    assert all(0 < m["bound"] <= 0.25 for m in spec)


def test_per_layer_metrics_match():
    spec = _spec()["per_layer"]
    assert [(m["name"], m["unit"]) for m in spec] == run.per_layer_metrics()
    assert len(spec) <= 128


def test_names_follow_the_contract():
    spec = _spec()
    names = ([w["name"] for w in spec["workloads"]]
             + [m["name"] for m in spec["end_to_end"] + spec["per_layer"]])
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}", n), n
    for w in spec["workloads"]:
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
