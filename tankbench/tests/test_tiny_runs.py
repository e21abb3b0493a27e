"""Each workload end to end at tiny sizes, through the real entry point:
the result line carries exactly the metrics BENCHMARK.json names, every
oracle passes, and the traced run's span tree is well formed (a malformed
tree would be reported as a failure)."""

import json

import pytest

import events
import queries
import run

SPEC = run.load_spec()


def _main(capsys, *argv) -> tuple[dict, dict]:
    assert run.main(list(argv)) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def _names(section):
    return {m["name"]: m["unit"] for m in SPEC[section]}


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(events, "PACED_RATE", 40)
    monkeypatch.setattr(events, "WARMUP_EVENTS", 10)
    monkeypatch.setattr(events, "BACKLOG_EVENTS", 400)
    monkeypatch.setattr(events, "BACKLOG_POOL", 300)
    monkeypatch.setattr(events, "BACKLOG_WARMUP_EVENTS", 40)
    monkeypatch.setattr(queries, "PINNED", ["q1_pricing_summary", "doc_token_stats"])
    monkeypatch.setattr(queries, "SCALE", 0.001)


def test_events_paced_traced(tiny, capsys):
    diag, result = _main(capsys, "--workload", "events_paced", "--seed", "3",
                         "--seconds", "2", "--trace", "1")
    assert result["correct"], diag["failures"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _names("per_layer")
    assert result["metrics"]["job1.batches"]["value"] >= 1
    assert any(k.startswith("self.job1.") for k in diag["diagnostics"])


def test_events_backlog(tiny, capsys):
    diag, result = _main(capsys, "--workload", "events_backlog", "--seed", "3",
                         "--seconds", "0", "--trace", "0")
    assert result["correct"], diag["failures"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _names("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_query_mix_traced(tiny, capsys):
    diag, result = _main(capsys, "--workload", "query_mix", "--seed", "3",
                         "--seconds", "0", "--trace", "1")
    assert result["correct"], diag["failures"]
    assert result["attempted"] == 4  # 2 queries, first and repeat call, one pass
    assert result["metrics"]["query.spark_jobs"]["value"] > 0
