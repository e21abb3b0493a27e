"""The oracles pass a correct output and catch deliberately corrupted ones."""

import copy
import json

import pandas as pd

import oracles


def _event(uid, etype, seq, ts):
    return {"originalId": uid, "eventType": etype, "sequence": seq,
            "enrichedData": json.dumps({"value": 1.5, "original_timestamp": ts,
                                        "processing_pipeline": "flink-event-processor"})}


EXPECTED = {
    "processed": [_event("u1", "view", 1, 10), _event("u1", "click", 2, 20),
                  _event("u2", "view", 1, 30)],
    "errors": ["{invalid json"],
}


def _stream_output():
    """What Job 1's sink holds: enrichedData as a nested object, numbers
    possibly re-rendered (1.5 stays 1.5, 10 may come back as 10.0)."""
    out = []
    for p in EXPECTED["processed"]:
        q = dict(p, enrichedData=json.loads(p["enrichedData"]), processedAt="x",
                 processingDelay=3)
        q["enrichedData"]["original_timestamp"] = float(q["enrichedData"]["original_timestamp"])
        out.append(q)
    return out, [{"rawMessage": "{invalid json"}]


def test_job1_passes_correct_output():
    processed, errors = _stream_output()
    assert oracles.check_job1(EXPECTED, processed, errors, 1) == []


def test_job1_catches_swapped_sequences():
    processed, errors = _stream_output()
    processed[0]["sequence"], processed[1]["sequence"] = 2, 1
    problems = oracles.check_job1(EXPECTED, processed, errors, 1)
    assert sum(n for _, n in problems) == 2  # two events carry the wrong sequence


def test_job1_catches_a_lost_event_and_a_gap():
    processed, errors = _stream_output()
    problems = oracles.check_job1(EXPECTED, processed[1:], errors, 1)
    assert any("differs" in m for m, _ in problems)
    assert any("1..n" in m for m, _ in problems)


def test_job1_catches_corrupted_enrichment_and_errors():
    processed, errors = _stream_output()
    processed[2]["enrichedData"]["value"] = 1.25
    assert oracles.check_job1(EXPECTED, processed, errors, 1)
    processed, _ = _stream_output()
    assert oracles.check_job1(EXPECTED, processed, [], 1)


def _progress(rows, state_rows):
    return [{"numInputRows": r, "stateOperators": [{"numRowsTotal": state_rows}]}
            for r in rows]


HEARTBEAT = [
    {"userId": "u1", "totalEventCount": 2, "eventTypeCounts": {"view": 1, "click": 1}},
    {"userId": "u2", "totalEventCount": 1, "eventTypeCounts": {"view": 1}},
]


def test_job2_passes_correct_output():
    assert oracles.check_job2(_progress([3, 0], 2), 3, 2, HEARTBEAT, EXPECTED) == []


def test_job2_catches_lost_rows_state_and_counts():
    assert oracles.check_job2(_progress([2, 0], 2), 3, 2, HEARTBEAT, EXPECTED)
    assert oracles.check_job2(_progress([3], 1), 3, 2, HEARTBEAT, EXPECTED)
    bad = copy.deepcopy(HEARTBEAT)
    bad[0]["eventTypeCounts"] = {"view": 2}
    assert oracles.check_job2(_progress([3], 2), 3, 2, bad, EXPECTED)
    assert oracles.check_job2(_progress([3], 2), 3, 2, HEARTBEAT[:1], EXPECTED)


def test_query_hash_ignores_order_but_not_values_or_types():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    b = a.iloc[::-1][["v", "k"]]
    assert oracles.frame_hash(a) == oracles.frame_hash(b)
    c = a.copy()
    c.loc[1, "v"] = 1.5000001
    assert oracles.frame_hash(a) != oracles.frame_hash(c)
    assert oracles.frame_hash(a) != oracles.frame_hash(a.astype({"k": "float64"}))
