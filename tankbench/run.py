"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 tankbench/run.py --workload events_paced --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads:

- ``events_paced``: producer → Job 1 → Job 2 at a fixed 200 ev/s, open loop.
- ``query_mix``: a pinned list of registry queries, first and repeat call,
  one client, closed loop.
- ``events_backlog``: a Zipf-keyed backlog drained by Job 1 ``available_now``
  with Job 2 alongside, closed loop. Not in BENCHMARK.json: one run takes
  about a minute, more than the benchmark's time budget leaves.

End-to-end metrics; every workload reports all of them:

- ``setup_s``: process start to ready. events_paced: session built, both
  jobs started, the warm-up events counted by Job 2; query_mix: session
  and its warm-up, tables written.
- ``throughput_per_s``: events_paced: events made visible per second,
  from the first due time to the drain; query_mix: calls per second of
  call time, first and repeat calls.

Latencies are computed on every run and printed in the diagnostics, not
gated: ``stage2_p50_ms`` (events_paced: event due time to a visible
Job 2 metric that counts it, the whole chain, also ``chain_latency_p50_ms``;
query_mix: repeat call, plan build plus result fetch, prepared-plan cache
warm), ``latency_p50_ms`` and ``latency_p99_ms`` (events_paced: event due
time to visible in Job 1's processed sink, also ``e2e_latency_p50_ms``;
query_mix: first call, also ``first_call_p50_ms``). Over ten seeds on
4 vCPUs they spread (Q3-Q1 over the median) by 0.08 to 0.25 from one set
of runs to the next (the chain latency; Job 1's 0.15 to 0.33), too close
to the 25% a gated metric may. Each run's figure rests on about five
Job 1 micro-batches of 4-6 s, whose length follows the host's speed and
how they interleave with Job 2's back-to-back batches; runs of 30 s
instead of 20 s were no steadier.

Memory is reported in the diagnostics only (``peak_rss_mb``,
``median_rss_mb``: summed PSS of the driver, the JVM and its Python
workers): the JVM heap grows with GC timing, and over ten seeds its peak
spread by more than the 25% any gated metric may.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones: progress-report and call timings per layer, self time per layer
from the span tree, the traced run's own end-to-end values (``trace.*``;
minus an untraced run's values on the same seed, they give the tracing
overhead) and a single-core baseline: the same workload, untraced, on
one core, for at most ``BASELINE_SECONDS``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries diagnostics under workload-specific names
(``e2e_latency_p50_ms``, ``query_first_s``, ``failed_share``, ...).
Progress goes to stderr. The program is reached only through
``session.get_spark``, ``jobs.pipeline`` and ``plans.registry.all_queries``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

WORKLOADS = ("events_paced", "events_backlog", "query_mix")
CPUS = "4"
DRIVER_MEM = "4g"
BASELINE_SECONDS = 10
RUN_LIMIT_S = 170  # a run must end within 180 s; the baseline gets what is left


def load_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


class Context:
    """State of one benchmark run, passed to the workload functions."""

    def __init__(self, seed: int, work: str, traced: bool):
        from observe import PeakRss
        from spans import Tracer

        self.seed = seed
        self.work = work
        self.tracer = Tracer(traced)
        self.rss = PeakRss()
        self.spark = None
        self.root_span = None
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.setup_s: float | None = None
        self.metrics: dict[str, float] = {}
        self.diag: dict[str, float] = {}
        self.layer: dict[str, list[float]] = defaultdict(list)

    def phase(self, name: str) -> None:
        """Log how far into the run a phase ended (stderr, for sizing)."""
        print(f"[{time.perf_counter() - T_START:7.2f}s] {name}", file=sys.stderr, flush=True)

    def fail(self, msg: str, operations: int = 1) -> None:
        """Record a failure of ``operations`` attempted operations."""
        self.failures.append(msg)
        self.failed += operations
        print(f"FAILED: {msg}", file=sys.stderr)

    def ready(self) -> None:
        """Set-up ends here: session built, queries started, warm-up seen."""
        if self.setup_s is None:
            self.setup_s = time.perf_counter() - T_START

    def record(self, metrics: dict, **diag) -> None:
        self.metrics.update(metrics)
        self.diag.update(diag)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run writes inside the checkout: Spark's local
    dirs, the warehouse, the JVM's and Python's temp files."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", CPUS)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def build_session(ctx) -> None:
    from flink_tank_spark.session import get_spark

    with ctx.tracer.span("session.get_spark", "session", ctx.root_span):
        t = time.perf_counter()
        ctx.spark = get_spark("tankbench")
        ctx.layer["session.build_s"].append(time.perf_counter() - t)
    ctx.phase("session built")
    ctx.spark.sparkContext.setLogLevel("ERROR")


def stop_spark(ctx) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def single_core_baseline(workload: str, seed: int, seconds: float,
                         timeout_s: float) -> tuple[dict, dict]:
    """One untraced run of the same workload on one core, in its own
    process group (so a timeout takes its JVM down with it); returns its
    diagnostics and its result line. Raises TimeoutExpired if it does not
    end within ``timeout_s``."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="1")
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"single-core baseline exited {proc.returncode}: {err[-2000:]}")
    lines = out.strip().splitlines()
    return json.loads(lines[-2])["diagnostics"], json.loads(lines[-1])


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, REPO)
    try:
        import flink_tank_spark
    except ImportError:
        flink_tank_spark = None
    pkg_root = flink_tank_spark and os.path.dirname(
        os.path.dirname(os.path.abspath(flink_tank_spark.__file__)))
    if pkg_root != REPO:
        print(f"flink_tank_spark is not in {REPO}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    spec = load_spec()
    work = os.path.join(REPO, ".tankbench_work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    if args.workload == "query_mix":
        # the documented session warm-up of the batch bench (bench.py)
        os.environ.setdefault("SPARK_GRAFT_ARROW_WARMUP", "1")
    ctx = Context(args.seed, work, bool(args.trace))
    try:
        with ctx.tracer.span(args.workload, "workload") as root:
            ctx.root_span = root
            build_session(ctx)
            if args.workload == "query_mix":
                import queries

                queries.run(ctx, args.seconds)
            else:
                import events

                run = events.run_paced if args.workload == "events_paced" else events.run_backlog
                run(ctx, args.seconds)
    except Exception as e:  # the run ends with a result line either way
        ctx.fail(f"{args.workload} aborted: {type(e).__name__}: {e}")
    try:
        if args.trace:
            stop_spark(ctx)
            base_diag, base = single_core_baseline(
                args.workload, args.seed, min(args.seconds, BASELINE_SECONDS),
                RUN_LIMIT_S - (time.perf_counter() - T_START))
            if not base["correct"]:
                ctx.fail("single-core baseline: outputs differ from the oracles")
            ctx.layer["baseline_1cpu.throughput_per_s"].append(
                base["metrics"]["throughput_per_s"]["value"])
            ctx.layer["baseline_1cpu.stage2_p50_ms"].append(base_diag["stage2_p50_ms"])
    except subprocess.TimeoutExpired:
        # too slow a host for the baseline inside the run limit: the
        # baseline metrics stay unmeasured (0), the run's outputs are fine
        ctx.diag["baseline_1cpu_timed_out"] = 1
        print("single-core baseline did not finish within the run limit", file=sys.stderr)
    except (RuntimeError, ValueError, KeyError, IndexError) as e:
        ctx.fail(f"single-core baseline: {type(e).__name__}: {e}")
    finally:
        stop_spark(ctx)
        shutil.rmtree(work, ignore_errors=True)
    return report(ctx, spec, args)


def report(ctx, spec: dict, args) -> int:
    import oracles

    e2e = dict(ctx.metrics, setup_s=ctx.setup_s)
    diag = {**ctx.metrics, **ctx.diag, "setup_s": ctx.setup_s, "peak_rss_mb": ctx.rss.mb(),
            "median_rss_mb": ctx.rss.median_mb(),
            "failed_share": ctx.failed / max(ctx.attempted, 1)}
    diag.update({k: oracles.median(v) for k, v in ctx.layer.items()})
    if args.trace:
        from spans import check_tree, self_times

        selfs = self_times(ctx.tracer.spans)
        for layer, ms in selfs.items():
            diag[f"self.{layer}_ms"] = ms
        problems = check_tree(ctx.tracer.spans)
        for p in problems:
            ctx.fail(f"span tree: {p}")
        values = {k: oracles.median(v) for k, v in ctx.layer.items()}
        for k in ("latency_p50_ms", "stage2_p50_ms", "throughput_per_s"):
            values[f"trace.{k}"] = ctx.metrics.get(k, 0.0)
        for layer, ms in selfs.items():
            values[f"self.{layer}_ms"] = ms
        wanted = spec["per_layer"]
    else:
        values = e2e
        wanted = spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"], 0.0)
        if v is None or (isinstance(v, float) and math.isnan(v)):
            ctx.fail(f"metric {m['name']} was not measured")
            v = 0.0
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    print(json.dumps({"diagnostics": diag, "failures": ctx.failures[:20]}, default=float))
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": max(ctx.attempted, ctx.failed, 1),
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
