"""BENCHMARK.json names exactly the metrics run.py prints."""

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _doc():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_matches_run():
    doc = _doc()
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.END_TO_END
    setup = next(m for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])


def test_per_layer_matches_run():
    import bench
    doc = _doc()
    assert [(m["name"], m["unit"]) for m in doc["per_layer"]] == \
        run.per_layer_spec(bench.HEADLINE)
    for m in doc["per_layer"]:
        assert m["better"] == ("higher" if m["name"] in run.HIGHER_IS_BETTER
                               else "lower")


def test_workloads_exist_and_names_are_valid():
    from workloads import WORKLOADS
    doc = _doc()
    assert all(w["name"] in WORKLOADS for w in doc["workloads"])
    metrics = doc["end_to_end"] + doc["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in doc["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in metrics)
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])
