"""Inputs are a pure function of the seed and have the intended shape."""

from collections import Counter

import inputs


def test_same_seed_same_inputs():
    assert inputs.zipf_events(2000, 7, 1000) == inputs.zipf_events(2000, 7, 1000)
    assert inputs.zipf_events(2000, 7, 1000) != inputs.zipf_events(2000, 8, 1000)
    assert inputs.paced_events(300, 7) == inputs.paced_events(300, 7)


def test_zipf_shape():
    msgs = inputs.zipf_events(20_000, 3, 100_000)
    keys = Counter(m.key for m in msgs if m.key)
    malformed = sum(m.key is None for m in msgs)
    assert 0.04 < malformed / len(msgs) < 0.06
    top = keys.most_common(1)[0][1]
    assert top > 20 * len(msgs) / len(keys)  # a few hot keys, many cold ones
    assert inputs.expected_parse_errors(msgs) == sum(
        m.template in inputs.PARSE_ERROR_VARIANTS for m in msgs if m.key is None)


def test_due_time_is_rendered():
    m = next(m for m in inputs.paced_events(50, 1) if m.key)
    assert '"timestamp":123' in m.render(123) and inputs.DUE not in m.render(123)
