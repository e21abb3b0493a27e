"""BENCHMARK.json obeys the benchmark contract, and a run prints exactly
its metrics, by name and unit."""

import json
import os
import re
import types

import run

SPEC = run.load_spec()
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_spec_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    assert SPEC["command"][:2] == ["python3", "tankbench/run.py"]
    assert SPEC["paths"] == ["tankbench"]
    assert 1 <= SPEC["run_seconds"] <= 60 and isinstance(SPEC["run_seconds"], int)
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOADS)
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and 0 < len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert len(json.dumps(SPEC)) <= 64 * 1024


def _report(capsys, trace: int) -> dict:
    ctx = run.Context(seed=1, work="/nonexistent", traced=bool(trace))
    ctx.setup_s = 1.5
    ctx.attempted = 10
    ctx.metrics = {m["name"]: 1.0 for m in SPEC["end_to_end"] if m["name"] != "setup_s"}
    ctx.layer["session.build_s"].append(0.5)
    with ctx.tracer.span("w", "workload"):
        pass
    args = types.SimpleNamespace(trace=trace)
    assert run.report(ctx, SPEC, args) == 0
    out = capsys.readouterr().out.strip().splitlines()
    return json.loads(out[-1])


def test_untraced_run_prints_every_end_to_end_metric(capsys):
    result = _report(capsys, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want


def test_traced_run_prints_every_per_layer_metric(capsys):
    result = _report(capsys, 1)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want


def test_result_is_the_last_line(capsys):
    result = _report(capsys, 0)
    assert result["attempted"] >= 1 and isinstance(result["failed"], int)


def test_refuses_to_run_without_the_program(tmp_path, monkeypatch):
    """Outside a checkout, the entry point exits non-zero and prints no result."""
    monkeypatch.setattr(run, "REPO", str(tmp_path))
    assert run.main(["--workload", "query_mix", "--seed", "1", "--seconds", "1"]) != 0
    assert not os.listdir(tmp_path)
