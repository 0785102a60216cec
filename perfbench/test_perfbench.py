"""The benchmark's own tests: a tiny-size traced run of every workload,
and the tracer's promise to leave the product's functions as it found
them.  Run with ``python -m pytest perfbench -q`` from the repo root."""

from __future__ import annotations

import json
import subprocess
import sys
import types
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import spans  # noqa: E402
from common import PACKAGE, REPO  # noqa: E402


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_traced_run_reports_every_metric(workload):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1", "--size", "tiny"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report_line, result_line = proc.stdout.strip().splitlines()[-2:]
    report, result = json.loads(report_line), json.loads(result_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert report["fail_frac"] == 0, report["problems"]
    layers = result["metrics"]
    assert {k: v["unit"] for k, v in layers.items()} == run.LAYER_UNITS
    e2e = report["end_to_end"]
    assert {k: v["unit"] for k, v in e2e.items()} == run.E2E_UNITS
    assert all(v["value"] > 0 for v in e2e.values())
    busy = {
        "heal_cycle": ["etl.write_s", "quality.input_mb", "incidents.append_s"],
        "query_mix": [f"operators.{m}.exec_s" for m in run.OPERATOR_MODULES]
        + ["sources.index_store.calls", "cache.pinned_rdds"],
    }[workload]
    assert all(layers[k]["value"] > 0 for k in busy + ["spark.jobs"])
    if workload == "heal_cycle":
        assert report["recover_s"] > 0 and report["rows_per_s"] > 0


def _package_functions() -> dict[tuple[str, str], object]:
    return {
        (name, attr): value
        for name, mod in list(sys.modules.items())
        if mod is not None and name.startswith(PACKAGE)
        for attr, value in vars(mod).items()
        if isinstance(value, types.FunctionType)
    }


def test_tracer_restores_every_wrapped_function(monkeypatch, tmp_path):
    import importlib

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    for mod, _, _ in spans.HEAL_TARGETS + spans.QUERY_TARGETS:
        importlib.import_module(f"{PACKAGE}.{mod}")
    importlib.import_module(f"{PACKAGE}.runner")
    importlib.import_module(f"{PACKAGE}.registry")  # every operator module
    before = _package_functions()

    tracer = spans.Tracer(types.SimpleNamespace(sparkContext=None), "t")
    with pytest.raises(RuntimeError):
        with tracer.installed(spans.HEAL_TARGETS + spans.QUERY_TARGETS):
            runner = sys.modules[f"{PACKAGE}.runner"]
            assert runner.run_etl is not before[(f"{PACKAGE}.runner", "run_etl")]
            assert runner.run_etl.__wrapped__ is before[(f"{PACKAGE}.runner", "run_etl")]
            raise RuntimeError("a traced pass that fails")

    after = _package_functions()
    assert after.keys() == before.keys()
    changed = [k for k in before if after[k] is not before[k]]
    assert not changed
    assert not tracer.patched


def test_benchmark_json_names_what_run_reports():
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
