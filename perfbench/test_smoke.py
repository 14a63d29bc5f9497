"""Smoke run of the benchmark at sf 0.001 plus the BENCHMARK.json
contract: ``python3 -m pytest perfbench -q`` (the two runs take about two
minutes on four cores)."""

from __future__ import annotations

import contextlib
import dataclasses
import io
import json
import os

import pytest

from perfbench import run, trace
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_code():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        name: (unit, better) for name, (unit, better, _why) in trace.LAYER_METRICS.items()
    }


def test_every_layer_metric_has_a_prediction():
    for name, (_unit, _better, moves) in trace.LAYER_METRICS.items():
        assert moves.strip(), name


def _run(monkeypatch, trace_flag: int, captured: list):
    for key in ("TMPDIR", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "PYTHONPATH"):
        monkeypatch.setenv(key, os.environ.get(key, ""))  # restored after the test
    monkeypatch.setitem(
        WORKLOADS, "stream_ingest", dataclasses.replace(WORKLOADS["stream_ingest"], sf=0.001)
    )
    real_metrics = trace.Tracer.layer_metrics

    def keep(self):
        captured.append(self)
        return real_metrics(self)

    monkeypatch.setattr(trace.Tracer, "layer_metrics", keep)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = run.main(
            ["--workload", "stream_ingest", "--seed", "3", "--seconds", "1", "--trace", str(trace_flag)]
        )
    assert code == 0
    return json.loads(out.getvalue().strip().splitlines()[-1])


@pytest.mark.parametrize("trace_flag", [0, 1])
def test_smoke_run_prints_every_metric(monkeypatch, trace_flag):
    tracers: list = []
    result = _run(monkeypatch, trace_flag, tracers)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()
    names = spec["per_layer"] if trace_flag else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in names} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if trace_flag:
        (tracer,) = tracers
        kinds = {s.kind for s in tracer.spans}
        assert {"query", "entry", "write", "sql", "job", "stage", "task", "batch", "fs"} <= kinds
        assert all(v >= 0 for v in trace.self_times(tracer.spans).values())
        assert all(s.end >= s.start for s in tracer.spans)
