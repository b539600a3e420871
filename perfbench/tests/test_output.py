"""The result line lists every BENCHMARK.json metric with its unit."""

import json
import os

import pytest

import run
from conftest import ROOT


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_declared_metrics_match_benchmark_json(bench):
    assert run.END_TO_END == {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert run.PER_LAYER == {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize("key", ["end_to_end", "per_layer"])
def test_result_line_has_every_metric_with_its_unit(bench, key):
    declared = run.END_TO_END if key == "end_to_end" else run.PER_LAYER
    some = dict(list(declared.items())[:2])
    metrics = {n: (1.5, u) for n, u in some.items()}
    out = json.loads(run.result_line(metrics, declared, 10, 1, True))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert {n: m["unit"] for n, m in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in bench[key]}
    assert all(out["metrics"][n]["value"] == 1.5 for n in some)


def test_result_line_rejects_wrong_unit_and_undeclared_metric():
    with pytest.raises(ValueError):
        run.result_line({"setup_s": (1.0, "ms")}, run.END_TO_END, 1, 0, True)
    with pytest.raises(ValueError):
        run.result_line({"nope": (1.0, "s")}, run.END_TO_END, 1, 0, True)


def test_refuses_to_run_outside_a_checkout(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "cep_hot", "--seed", "1", "--seconds", "1"]) == 2
