"""Seeded inputs for the event workloads, generated before any clock starts.

The program under test only ever receives the files written here:

- ``paced_events``: the reference producer's shape (50 users, 5 event
  types, 5% malformed in its four variants), taken from
  ``flink_tank_spark.producer.generate_messages``. Valid events get a
  timestamp placeholder that the generator thread fills with the event's
  due time, so the processed output carries it back as
  ``enrichedData.original_timestamp``.
- ``zipf_events``: a Zipf(1.1) draw over a large user pool, the state-heavy
  shape of the backlog workload; produced by this module alone.

Wire format (``flink_tank_spark.io.kafka.read_jsonl_stream``): one
``<arrival>\\t<json>`` line per event; ``arrival`` is the global event
index. Files are written under a dot-name and renamed into place, so the
file source never lists a half-written file.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import numpy as np

EVENT_TYPES = ["login", "purchase", "view", "click", "logout"]
MALFORMED_RATE = 0.05
# The producer's four malformed variants (flink_tank_spark/producer.py).
# Only the first and last fail the lenient parse; "{}" and the id-only
# object parse valid with defaults (FIXTURES.md section 1).
MALFORMED_VARIANTS = [
    "{invalid json",
    "{}",
    '{"id": "user-1"}',
    '{"id": "user-1", "type": "", "timestamp": "not-a-number"}',
]
PARSE_ERROR_VARIANTS = frozenset([MALFORMED_VARIANTS[0], MALFORMED_VARIANTS[3]])
DUE = "@DUE@"


@dataclass(frozen=True)
class Message:
    """One wire event. ``template`` holds ``DUE`` where the due time goes
    (valid events only); ``key`` is the user id, None for malformed."""

    key: str | None
    template: str

    def render(self, due_ms: int) -> str:
        return self.template.replace(DUE, str(due_ms))


def paced_events(n: int, seed: int) -> list[Message]:
    """``n`` messages in the reference producer's distributions."""
    from flink_tank_spark.producer import generate_messages

    out = []
    for key, value in generate_messages(n, seed=seed):
        if key is None:
            out.append(Message(None, value))
            continue
        event = json.loads(value)
        event["timestamp"] = DUE
        out.append(Message(key, json.dumps(event, separators=(",", ":")).replace(
            f'"{DUE}"', DUE)))
    return out


def zipf_events(n: int, seed: int, pool: int, exponent: float = 1.1) -> list[Message]:
    """``n`` messages whose users follow Zipf(``exponent``) over ``pool``
    ids; 5% malformed, cycling through the producer's four variants."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, pool + 1, dtype=np.float64) ** exponent
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]
    # a seeded permutation so the hottest users are not user-1, user-2, ...
    ids = rng.permutation(pool)[np.searchsorted(cdf, rng.random(n), side="right")]
    malformed = rng.random(n) < MALFORMED_RATE
    types = rng.integers(0, len(EVENT_TYPES), n)
    sessions = rng.integers(1, 1001, n)
    values = np.round(rng.random(n) * 100, 2)
    cats = rng.integers(0, 3, n)
    out = []
    bad = 0
    for i in range(n):
        if malformed[i]:
            out.append(Message(None, MALFORMED_VARIANTS[bad % 4]))
            bad += 1
            continue
        user = f"user-{ids[i] + 1}"
        out.append(Message(user, (
            f'{{"id":"{user}","type":"{EVENT_TYPES[types[i]]}","timestamp":{DUE},'
            f'"data":{{"session_id":"session-{sessions[i]}","value":{float(values[i])!r},'
            f'"category":"{"ABC"[cats[i]]}"}}}}'
        )))
    return out


def write_wire(dirpath: str, name: str, lines: list[tuple[int, str]]) -> None:
    """Atomically land one wire file of ``(arrival, json)`` lines."""
    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(dirpath, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.writelines(f"{a}\t{v}\n" for a, v in lines)
    os.rename(tmp, os.path.join(dirpath, f"{name}.jsonl"))


def expected_parse_errors(messages: list[Message]) -> int:
    return sum(m.key is None and m.template in PARSE_ERROR_VARIANTS for m in messages)


def sub_seed(seed: int, salt: str) -> int:
    """Derive an independent sub-seed (inputs of one cycle, one pass...)."""
    return random.Random(f"{seed}:{salt}").randrange(2**31)
