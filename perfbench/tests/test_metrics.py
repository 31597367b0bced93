import json
import os
import re

from perfbench import metrics
from perfbench.driver import _workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_declarations():
    b = spec()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]] == [
        (m.name, m.unit, m.better) for m in metrics.END_TO_END
    ]
    assert b["per_layer"] == [
        {"name": m.name, "unit": m.unit, "better": m.better} for m in metrics.PER_LAYER
    ]
    assert [w["name"] for w in b["workloads"]] == list(_workloads())


def test_limits_of_the_contract():
    b = spec()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert 1 <= len(b["per_layer"]) <= 128 and 2 <= len(b["workloads"]) <= 8
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert all(re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60


def test_every_layer_names_what_it_should_move():
    assert all(m.moves and m.workload for m in metrics.PER_LAYER)
