"""The two event workloads: the producer → Job 1 → Job 2 chain, driven
through ``jobs.pipeline.start_processor_job`` / ``start_aggregation_job``.

- ``events_paced`` (open loop): one generator thread lands one wire file
  per tick at a fixed rate; every event is stamped with its due time and
  timed from it, so a stall counts against every event queued behind it.
- ``events_backlog`` (closed loop): a pre-written backlog is drained by
  Job 1 with ``available_now`` while Job 2 runs alongside; the same
  backlog is drained on fresh checkpoints, cycle after cycle, for the
  measured seconds.

Both end with the chain drained and stopped in order: generator first,
then wait for Job 1's sinks and Job 2's input to catch up, then stop the
queries. A query exception seen before the stop is a failure; anything
the stop itself raises in the stream threads is logged apart.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime

import inputs
import oracles
from observe import FileSinkWatcher, ProgressLog, WireSinkWatcher, wall_ms
from spans import attach, batch_spans

PACED_RATE = 200  # events/s: 100x the reference producer's 2 ev/s
TICK_MS = 100  # one wire file per tick
# Job 2 emits on a 5 s wall-clock grid; the load starts on it so that every
# run meets the grid at the same phase
GRID_MS = 5000
WARMUP_EVENTS = 40
BACKLOG_EVENTS = 50_000
BACKLOG_POOL = 100_000
BACKLOG_FILES = 4
BACKLOG_WARMUP_EVENTS = 500
DRAIN_TIMEOUT_S = 90


def iso_ms(s: str) -> int:
    return int(datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000)


@dataclass
class Chain:
    """One running Job 1 + Job 2 pair over its own directories."""

    root: str
    q1: object
    q2: object
    processed: WireSinkWatcher
    errors: WireSinkWatcher
    metrics: FileSinkWatcher
    log1: ProgressLog
    log2: ProgressLog
    sink_calls: list = field(default_factory=list)  # (batch_id, span id, ms)

    @property
    def src(self) -> str:
        return os.path.join(self.root, "src")

    def poll(self) -> None:
        self.processed.poll()
        self.errors.poll()
        self.metrics.poll()

    def poll_progress(self) -> None:
        self.log1.poll()
        self.log2.poll()

    def check(self, ctx) -> None:
        for q in (self.q1, self.q2):
            exc = q.exception()
            if exc is not None:
                ctx.fail(f"query {q.name} failed: {exc}")
                raise RuntimeError(f"query {q.name} failed")

    def stop(self, ctx) -> None:
        """Record real failures, then stop; stop-time noise is only logged."""
        self.poll_progress()
        for q in (self.q1, self.q2):
            exc = q.exception()
            if exc is not None:
                ctx.fail(f"query {q.name} failed before stop: {exc}")
        for q in (self.q1, self.q2):
            try:
                q.stop()
                q.awaitTermination(30)
            except Exception as e:  # the stop of a mid-batch stream thread
                print(f"shutdown interrupt in {q.name}: {type(e).__name__}", file=sys.stderr)


def start_chain(ctx, root: str, *, available_now: bool) -> Chain:
    from flink_tank_spark.jobs import pipeline

    paths = {k: os.path.join(root, k) for k in
             ("src", "processed", "errors", "metrics", "chk1", "chk2")}
    os.makedirs(paths["src"], exist_ok=True)
    calls: list = []
    patched = ctx.tracer.enabled
    if patched:
        orig = pipeline.idempotent_wire_sink

        def traced_sink(dirpath, fanout=1):
            write = orig(dirpath, fanout)

            def call(df, batch_id):
                with ctx.tracer.span(f"sink.{os.path.basename(dirpath)}",
                                     "jobs.pipeline.idempotent_wire_sink") as sid:
                    t = time.perf_counter()
                    write(df, batch_id)
                calls.append((batch_id, sid, (time.perf_counter() - t) * 1000))

            return call

        pipeline.idempotent_wire_sink = traced_sink
    try:
        with ctx.tracer.span("start_processor_job", "jobs.pipeline", ctx.root_span):
            q1 = pipeline.start_processor_job(
                ctx.spark, paths["src"], paths["processed"], paths["errors"],
                paths["chk1"], trigger_interval=None, available_now=available_now,
            )
    finally:
        if patched:
            pipeline.idempotent_wire_sink = orig
    with ctx.tracer.span("start_aggregation_job", "jobs.pipeline", ctx.root_span):
        q2 = pipeline.start_aggregation_job(
            ctx.spark, paths["processed"], paths["metrics"], paths["chk2"])
    return Chain(root, q1, q2, WireSinkWatcher(paths["processed"]),
                 WireSinkWatcher(paths["errors"]), FileSinkWatcher(paths["metrics"]),
                 ProgressLog(q1), ProgressLog(q2), calls)


def wait_until(ctx, chain: Chain, done, timeout_s: float, what: str, poll_s: float = 0.02):
    """Poll sinks (progress every ~0.25 s, memory every ~1 s) until ``done()``."""
    deadline = time.monotonic() + timeout_s
    last_progress = last_rss = 0.0
    while True:
        chain.poll()
        now = time.monotonic()
        if now - last_progress > 0.25:
            chain.poll_progress()
            chain.check(ctx)
            last_progress = now
        if now - last_rss > 1.0:
            ctx.rss.sample()
            last_rss = now
        if done():
            return
        if now > deadline:
            ctx.fail(f"timed out waiting for {what}")
            raise RuntimeError(f"timed out waiting for {what}")
        time.sleep(poll_s)


def line_count(watcher: WireSinkWatcher, cache: dict) -> int:
    """Lines in the files a watcher has seen, reading each file once."""
    for name in watcher.seen:
        if name not in cache:
            with open(os.path.join(watcher.dirpath, name)) as f:
                cache[name] = sum(1 for line in f if line.strip())
    return sum(cache.values())


def drain(ctx, chain: Chain, n_events: int, job1_done=None) -> tuple[int, int]:
    """Wait until every input event is visible in Job 1's sinks and Job 2
    has consumed every processed record; return (Job 1 visible ms, Job 2
    consumed ms)."""
    pc: dict = {}
    ec: dict = {}

    def job1_visible():
        return line_count(chain.processed, pc) + line_count(chain.errors, ec) >= n_events and (
            job1_done is None or job1_done())

    wait_until(ctx, chain, job1_visible, DRAIN_TIMEOUT_S, "Job 1 to drain")
    t1 = wall_ms()
    n_processed = line_count(chain.processed, pc)
    wait_until(ctx, chain, lambda: chain.log2.input_rows() >= n_processed,
               DRAIN_TIMEOUT_S, "Job 2 to consume Job 1's output", poll_s=0.05)
    return t1, chain.log2.time_rows_reached(n_processed)


def wait_heartbeat_after(ctx, chain: Chain, after_ms: int) -> list[dict]:
    """Wait for the first heartbeat whose window ends after ``after_ms``;
    return its metric rows."""
    rows: list[dict] = []

    def seen():
        rows.clear()
        for _, line in chain.metrics.records():
            m = json.loads(line)
            if iso_ms(m["windowEnd"]) > after_ms:
                rows.append(m)
        return bool(rows)

    wait_until(ctx, chain, seen, 30, "the first heartbeat after the drain", poll_s=0.2)
    first = min(iso_ms(m["windowEnd"]) for m in rows)
    return [m for m in rows if iso_ms(m["windowEnd"]) == first]


def record_layers(ctx, chain: Chain, skip: int, n_events: int) -> None:
    """Per-layer samples of one chain run, from its progress reports;
    Job 1's first ``skip`` batches (the warm-up) are left out."""
    job1 = chain.log1.ordered()[skip:]
    data1 = [p for p in job1 if p["numInputRows"] > 0]
    med = lambda ps, f: oracles.median([f(p) for p in ps]) if ps else 0.0  # noqa: E731
    dur = lambda k: lambda p: p["durationMs"].get(k, 0)  # noqa: E731
    st = lambda k: lambda p: p["stateOperators"][0][k]  # noqa: E731
    L = ctx.layer
    L["job1.source_rows_per_event"].append(sum(p["numInputRows"] for p in job1) / n_events)
    L["job1.latest_offset_ms"].append(med(data1, dur("latestOffset")))
    L["job1.get_batch_ms"].append(med(data1, dur("getBatch")))
    L["job1.query_planning_ms"].append(med(data1, dur("queryPlanning")))
    L["job1.batch_ms"].append(med(data1, dur("triggerExecution")))
    L["job1.batches"].append(len(data1))
    L["job1.state_update_ms"].append(med(data1, st("allUpdatesTimeMs")))
    L["job1.state_commit_ms"].append(med(data1, st("commitTimeMs")))
    L["job1.state_rows"].append(data1[-1]["stateOperators"][0]["numRowsTotal"] if data1 else 0)
    L["job1.state_bytes"].append(data1[-1]["stateOperators"][0]["memoryUsedBytes"] if data1 else 0)
    L["job1.add_batch_ms"].append(med(data1, dur("addBatch")))
    L["job1.wal_commit_ms"].append(med(data1, dur("walCommit")))
    measured = {p["batchId"] for p in data1}
    per_batch: dict[int, float] = defaultdict(float)
    for batch_id, _, ms in chain.sink_calls:
        if batch_id in measured:
            per_batch[batch_id] += ms
    L["job1.sink_ms"].append(oracles.median(list(per_batch.values())) if per_batch else 0.0)
    job2 = chain.log2.ordered()
    data2 = [p for p in job2 if p["numInputRows"] > 0]
    stated2 = [p for p in job2 if p.get("stateOperators")]
    L["job2.state_update_ms"].append(med(data2, st("allUpdatesTimeMs")))
    L["job2.state_removal_ms"].append(med(stated2, st("allRemovalsTimeMs")))
    L["job2.state_commit_ms"].append(med(stated2, st("commitTimeMs")))
    L["job2.state_rows"].append(stated2[-1]["stateOperators"][0]["numRowsTotal"] if stated2 else 0)
    L["job2.state_bytes"].append(
        stated2[-1]["stateOperators"][0]["memoryUsedBytes"] if stated2 else 0)
    L["job2.batch_ms"].append(med(job2, dur("triggerExecution")))
    L["job2.timer_only_batch_share"].append(
        (len(job2) - len(data2)) / len(job2) if job2 else 0.0)
    if ctx.tracer.enabled:
        adds = batch_spans(ctx.tracer, "job1", chain.log1.ordered(), ctx.root_span)
        batch_spans(ctx.tracer, "job2", job2, ctx.root_span)
        for batch_id, sid, _ in chain.sink_calls:
            if batch_id in adds:
                attach(ctx.tracer, sid, adds[batch_id])


def verify_chain(ctx, chain: Chain, messages, expected: dict,
                 heartbeat: list[dict] | None) -> None:
    """Every oracle on one drained chain; mismatches count as failures."""
    ctx.attempted += len(messages)
    processed = [json.loads(line) for _, line in chain.processed.records()]
    errors = [json.loads(line) for _, line in chain.errors.records()]
    for problem, n in oracles.check_job1(expected, processed, errors,
                                         inputs.expected_parse_errors(messages)):
        ctx.fail(problem, n)
    keys = {p["originalId"] for p in processed}
    for problem, n in oracles.check_job2(chain.log2.ordered(), len(processed), len(keys),
                                         heartbeat, expected):
        ctx.fail(problem, n)


# ------------------------------------------------------------ events_paced


def run_paced(ctx, seconds: float) -> None:
    n = int(seconds * PACED_RATE)
    warm = inputs.paced_events(WARMUP_EVENTS, inputs.sub_seed(ctx.seed, "warmup"))
    main = inputs.paced_events(n, ctx.seed)
    chain = start_chain(ctx, os.path.join(ctx.work, "chain"), available_now=False)
    try:
        paced_on_chain(ctx, chain, warm, main, seconds)
    finally:
        chain.stop(ctx)


def paced_on_chain(ctx, chain: Chain, warm, main, seconds) -> None:
    # warm-up: one small file through both jobs; ready once Job 2 has it
    t = wall_ms()
    inputs.write_wire(chain.src, "warmup", [(i, m.render(t)) for i, m in enumerate(warm)])
    drain(ctx, chain, len(warm))
    ctx.ready()
    ctx.phase("warm-up through the chain")
    warm_batches = len(chain.log1.batches)

    # open loop: the generator thread lands each tick's events when the
    # tick ends, whatever the chain is doing
    period = 1000.0 / PACED_RATE
    t0 = (wall_ms() + 200) // GRID_MS * GRID_MS + GRID_MS
    lateness: list[float] = []
    stop = threading.Event()

    def generate():
        base = len(warm)
        per_tick = TICK_MS / period
        for k in range(1, int(len(main) / per_tick + 0.999) + 1):
            due_end = t0 + k * TICK_MS
            if stop.wait(max(due_end - wall_ms(), 0) / 1000.0):
                return
            lo, hi = int((k - 1) * per_tick), min(int(k * per_tick), len(main))
            lines = [(base + i, main[i].render(int(t0 + i * period))) for i in range(lo, hi)]
            inputs.write_wire(chain.src, f"tick-{k:06d}", lines)
            lateness.append(wall_ms() - due_end)

    gen = threading.Thread(target=generate, name="tankbench-generator")
    gen.start()
    try:
        wait_until(ctx, chain, lambda: not gen.is_alive(), seconds + 60, "the generator")
    finally:
        stop.set()
        gen.join()
    t_gen_end = wall_ms()
    t1, t2 = drain(ctx, chain, len(warm) + len(main))
    ctx.phase("drained")
    # the batch oracle runs while the heartbeat is awaited: the measured
    # part of the run is over
    expected = oracles.batch_job1(ctx.spark, chain.src)
    heartbeat = wait_heartbeat_after(ctx, chain, t2)
    ctx.phase("heartbeat seen")

    processed = [(v, json.loads(line)) for v, line in chain.processed.records()]
    metrics = [(v, json.loads(line)) for v, line in chain.metrics.records()]
    lat, chain_lat = [], []
    backlog_at_end = 0  # generated events not yet visible when the generator stopped
    for visible, p in processed:
        ts = p["enrichedData"].get("original_timestamp", 0)
        if ts >= t0:
            lat.append(visible - ts)
            backlog_at_end += visible > t_gen_end
    # an event reaches the end of the chain when a visible Job 2 metric of
    # its key counts it: the first with totalEventCount >= its sequence
    counted: dict[str, list[tuple[int, int]]] = {}
    for visible, m in metrics:
        counted.setdefault(m["userId"], []).append((m["totalEventCount"], visible))
    for visible, p in processed:
        ts = p["enrichedData"].get("original_timestamp", 0)
        seen = [v for n, v in counted.get(p["originalId"], ()) if n >= p["sequence"]]
        if ts >= t0 and seen:
            chain_lat.append(min(seen) - ts)
    if len(chain_lat) != len(lat):
        ctx.fail(f"{len(lat) - len(chain_lat)} events never counted by a Job 2 metric",
                 len(lat) - len(chain_lat))
    emit = [visible - iso_ms(m["windowEnd"]) for visible, m in metrics
            if t0 <= iso_ms(m["windowEnd"]) <= t2]
    out = {
        "latency_p50_ms": oracles.pct(lat, 50),
        "latency_p99_ms": oracles.pct(lat, 99),
        "stage2_p50_ms": oracles.pct(chain_lat, 50),
        "throughput_per_s": len(lat) / max(t1 - t0, 1) * 1000.0,
    }
    thirds = [lat[i * len(lat) // 3:(i + 1) * len(lat) // 3] for i in range(3)]
    ctx.record(out, samples=len(lat), emit_samples=len(emit),
               # a growing backlog (rate above sustainable) shows as a rise
               # from the first to the last third
               latency_p50_first_third_ms=oracles.pct(thirds[0], 50),
               latency_p50_last_third_ms=oracles.pct(thirds[2], 50),
               chain_latency_p50_ms=out["stage2_p50_ms"],
               chain_latency_p99_ms=oracles.pct(chain_lat, 99),
               generator_late_max_ms=max(lateness), generator_late_p99_ms=oracles.pct(lateness, 99),
               backlog_at_generator_stop=backlog_at_end,
               e2e_latency_p50_ms=out["latency_p50_ms"], e2e_latency_p99_ms=out["latency_p99_ms"],
               metrics_emit_lag_p50_ms=oracles.pct(emit, 50))
    record_layers(ctx, chain, warm_batches, len(main))
    verify_chain(ctx, chain, warm + main, expected, heartbeat)
    ctx.phase("verified")


# ----------------------------------------------------------- events_backlog


def run_backlog(ctx, seconds: float) -> None:
    messages = inputs.zipf_events(BACKLOG_EVENTS, ctx.seed, BACKLOG_POOL)
    warm = inputs.zipf_events(BACKLOG_WARMUP_EVENTS, inputs.sub_seed(ctx.seed, "warmup"),
                              BACKLOG_POOL)
    backlog_cycle(ctx, "warmup", warm)
    ctx.ready()
    cycles = []
    t_end = time.monotonic() + seconds
    while not cycles or time.monotonic() < t_end:
        cycles.append(backlog_cycle(ctx, f"cycle{len(cycles)}", messages))
    out = {k: oracles.median([c[k] for c in cycles]) for k in cycles[0]}
    ctx.record(out, cycles=len(cycles),
               job1_drain_events_per_s=out.pop("job1_rate"),
               chain_drain_events_per_s=out["throughput_per_s"])


def backlog_cycle(ctx, name, messages) -> dict:
    root = os.path.join(ctx.work, name)
    src = os.path.join(root, "src")
    per = (len(messages) + BACKLOG_FILES - 1) // BACKLOG_FILES
    for f in range(BACKLOG_FILES):
        chunk = range(f * per, min((f + 1) * per, len(messages)))
        inputs.write_wire(src, f"part-{f:04d}", [(i, messages[i].render(0)) for i in chunk])
    ctx.phase(f"{name}: backlog written")
    t0 = wall_ms()
    chain = start_chain(ctx, root, available_now=True)
    try:
        t1, t2 = drain(ctx, chain, len(messages), job1_done=lambda: not chain.q1.isActive)
        ctx.phase(f"{name}: drained")
        t_first = min(chain.processed.seen.values())
        visible = [t for t, _ in chain.processed.records()]
    finally:
        chain.stop(ctx)
    ctx.phase(f"{name}: stopped")
    if name != "warmup":
        record_layers(ctx, chain, 0, len(messages))
        # no heartbeat check here: one heartbeat over ~10k keys takes
        # ~20 s to emit; events_paced checks the heartbeat counts
        verify_chain(ctx, chain, messages, oracles.batch_job1(ctx.spark, src), None)
        ctx.phase(f"{name}: verified")
    return {
        "latency_p50_ms": oracles.pct([v - t0 for v in visible], 50),
        "latency_p99_ms": oracles.pct([v - t0 for v in visible], 99),
        "stage2_p50_ms": t2 - t_first,
        "throughput_per_s": len(messages) / max(t2 - t0, 1) * 1000.0,
        "job1_rate": len(messages) / max(t1 - t0, 1) * 1000.0,
    }
