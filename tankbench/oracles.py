"""Correctness oracles, run after the clock stops. Each check returns
``(message, failed operations)`` pairs: the events or calls whose output
is wrong.

- Job 1: the streaming processed output equals the batch topology
  (``streaming.jobs.get_output_streams``) on the same wire files, except
  the processing-time fields; per-key sequences are exactly 1..n; the
  error records equal the batch error records, and their number equals
  the generator's count of unparseable messages.
- Job 2: it consumed as many rows as Job 1 processed; its state holds one
  row per distinct key; the first heartbeat after the drain carries, per
  key, the batch topology's total and per-type counts.
- Queries: a Spark result equals its DuckDB oracle under one canonical
  hash (column order, row order, timestamp unit and dtype kind fixed).
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter

import numpy as np
import pandas as pd


def pct(values, q: float) -> float:
    if not len(values):
        return float("nan")
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def median(values) -> float:
    return pct(values, 50)


def _num(x):
    """JSON numbers compared by value: 12, 12.0 and 1.2e1 are one number."""
    if isinstance(x, dict):
        return {k: _num(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_num(v) for v in x]
    if isinstance(x, (int, float)) and not isinstance(x, bool):
        return float(x)
    return x


def processed_key(p: dict) -> tuple:
    """A ProcessedEvent without its processing-time fields."""
    data = p["enrichedData"]
    if isinstance(data, str):
        data = json.loads(data)
    return (p["originalId"], p["eventType"], int(p["sequence"]),
            json.dumps(_num(data), sort_keys=True))


def batch_job1(spark, src: str) -> dict:
    """The batch topology on the wire files under ``src``."""
    from pyspark.sql import functions as F

    from flink_tank_spark.streaming.jobs import get_output_streams

    raw = (spark.read.options(sep="\t", quote="", escape="")
           .schema("arrival long, value string").csv(src))
    processed, errors = get_output_streams(raw, now=F.lit(0).cast("timestamp"),
                                           order_by=["arrival"])
    rows = processed.select("originalId", "eventType", "sequence", "enrichedData").collect()
    return {
        "processed": [r.asDict() for r in rows],
        "errors": [r.rawMessage for r in errors.select("rawMessage").collect()],
    }


def check_job1(expected: dict, processed: list[dict], errors: list[dict],
               parse_errors: int) -> list[tuple[str, int]]:
    problems = []
    want = Counter(processed_key(p) for p in expected["processed"])
    got = Counter(processed_key(p) for p in processed)
    if got != want:
        extra, missing = got - want, want - got
        n = max(sum(extra.values()), sum(missing.values()))
        problems.append((
            f"Job 1 processed output differs from the batch topology: "
            f"{sum(extra.values())} extra, e.g. {next(iter(extra), None)}; "
            f"{sum(missing.values())} missing, e.g. {next(iter(missing), None)}", n))
    seqs: dict[str, list[int]] = {}
    for p in processed:
        seqs.setdefault(p["originalId"], []).append(int(p["sequence"]))
    bad = [k for k, s in seqs.items() if sorted(s) != list(range(1, len(s) + 1))]
    if bad:
        problems.append((f"per-key sequences are not 1..n for {len(bad)} keys, "
                         f"e.g. {bad[0]!r}", sum(len(seqs[k]) for k in bad)))
    got_err, want_err = Counter(e["rawMessage"] for e in errors), Counter(expected["errors"])
    if got_err != want_err:
        problems.append(("Job 1 error output differs from the batch topology",
                         max(sum((got_err - want_err).values()),
                             sum((want_err - got_err).values()))))
    if len(errors) != parse_errors:
        problems.append((f"{len(errors)} error records for {parse_errors} unparseable inputs",
                         abs(len(errors) - parse_errors)))
    return problems


def check_job2(progress: list[dict], n_processed: int, n_keys: int,
               heartbeat: list[dict] | None, expected: dict) -> list[tuple[str, int]]:
    problems = []
    consumed = sum(p["numInputRows"] for p in progress)
    if consumed != n_processed:
        problems.append((f"Job 2 consumed {consumed} rows, Job 1 processed {n_processed}",
                         abs(consumed - n_processed)))
    states = [p["stateOperators"][0]["numRowsTotal"] for p in progress if p.get("stateOperators")]
    if not states or states[-1] != n_keys:
        problems.append((f"Job 2 state holds {states[-1] if states else None} rows "
                         f"for {n_keys} distinct keys", 1))
    if heartbeat is None:
        return problems
    want: dict[str, Counter] = {}
    for p in expected["processed"]:
        want.setdefault(p["originalId"], Counter())[p["eventType"]] += 1
    got = {m["userId"]: m for m in heartbeat}
    if set(got) != set(want):
        problems.append((f"first heartbeat after the drain covers {len(got)} keys, "
                         f"batch has {len(want)}", len(set(got) ^ set(want))))
    wrong = [k for k, c in want.items() if k in got and (
        got[k]["totalEventCount"] != sum(c.values()) or Counter(got[k]["eventTypeCounts"]) != c)]
    if wrong:
        problems.append((f"heartbeat counts differ from the batch counts for {len(wrong)} "
                         f"keys, e.g. {wrong[0]!r}", len(wrong)))
    return problems


def frame_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive value hash of a result, with the dtype kind of
    each column folded in (an integer sum must not come back as a float)."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pdf[c].dtype == object:
            nonnull = pdf[c].dropna()
            if len(nonnull) and all(type(v).__name__ == "date" for v in nonnull.head(100)):
                pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    kinds = ",".join(
        f"{c}:{'i' if pdf[c].dtype.kind == 'u' else pdf[c].dtype.kind}" for c in pdf.columns)
    body = pdf.to_csv(index=False, float_format="%.17g")
    return hashlib.md5((kinds + "\n" + body).encode()).hexdigest()
