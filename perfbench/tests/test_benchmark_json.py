"""BENCHMARK.json mirrors the metrics and workloads the code reports."""

import json
import os
import re

from conftest import ROOT
from perfbench.run import END_TO_END
from perfbench.traced import PER_LAYER
from perfbench.workloads import WORKLOADS

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metrics_match_the_code():
    doc = load()
    assert {m["name"]: (m["unit"], m["better"])
            for m in doc["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"])
            for m in doc["per_layer"]} == PER_LAYER
    assert [(w["name"], w["why"]) for w in doc["workloads"]] == \
        [(w.name, w.why) for w in WORKLOADS.values()]


def test_shape_and_limits():
    doc = load()
    assert set(doc) == {"command", "paths", "run_seconds", "workloads",
                        "end_to_end", "per_layer"}
    names = [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    names += [w["name"] for w in doc["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in doc["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    for m in doc["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    setup = next(m for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in doc["workloads"])


def test_exact_counters_are_per_layer_metrics():
    with open(os.path.join(ROOT, "perfbench", "exact_counters.json")) as fh:
        exact = json.load(fh)
    assert set(exact) == set(WORKLOADS)
    for names in exact.values():
        assert set(names) <= set(PER_LAYER)
