"""``query_mix``: one client calls a pinned list of registry queries in a
fixed order, each twice (first call, then repeat call), over tables this
benchmark generates from the seed.

A pass runs the list over its own copy of the tables. The registry
memoizes built plans per (query, table directory), so every pass starts
with true first calls in an already warmed session; passes repeat while
the next one is expected to end within the measured seconds. Results
are checked against each query's DuckDB oracle after the clock stops.

Calls are timed as the build (``spec.spark(spark, dir)``) plus the
client fetch (``toPandas()``), the form the oracle compares.
"""

from __future__ import annotations

import os
import shutil
import time

import oracles
import tables

# One to three queries per registry family; doc_dedup_stats reuses the
# shared stages doc_lsh_near_dups builds. Sized so one pass of first and
# repeat calls takes about 20 s on 4 cores.
PINNED = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_volume_customers",
    "win_moving_avg",
    "ev_funnel_conversion",
    "ev_sliding_peak",
    "doc_token_stats",
    "doc_lsh_near_dups",
    "doc_dedup_stats",
    "emb_cosine_topk",
    "dim_scd2_asof_join",
    "tbl_profile_lineitem",
    "mm_wav_roundtrip",
]
FAMILIES = ["tpch", "win", "ev", "doc", "emb", "dim", "tbl", "mm"]
SCALE = 0.01


def family(name: str) -> str:
    head = name.split("_")[0]
    return "tpch" if head[0] == "q" and head[1:].isdigit() else head


def spark_work(sc, group: str) -> tuple[int, int]:
    """Jobs and tasks Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else []:
            stage = st.getStageInfo(s)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


def run(ctx, seconds: float) -> None:
    import duckdb

    from flink_tank_spark.plans.registry import all_queries

    with ctx.tracer.span("plans.registry.all_queries", "plans.registry", ctx.root_span):
        registry = all_queries()
    specs = [registry[n] for n in PINNED]
    base = os.path.join(ctx.work, "tables", "base")
    tables.write_tables(tables.make_tables(SCALE, ctx.seed), base)
    # the session warm-up bench.py uses: Arrow workers up, one parquet read
    ctx.spark.read.parquet(os.path.join(base, "nation.parquet")).count()
    ctx.ready()

    sc = ctx.spark.sparkContext
    passes = []
    t_start = time.monotonic()

    def next_pass_fits() -> bool:
        spent = time.monotonic() - t_start
        return spent + spent / len(passes) <= seconds

    while not passes or next_pass_fits():
        sf_dir = os.path.join(ctx.work, "tables", f"pass{len(passes)}")
        shutil.copytree(base, sf_dir)
        calls = []
        for spec in specs:
            with ctx.tracer.span(spec.name, "query", ctx.root_span) as qid:
                for kind in ("first", "repeat"):
                    group = f"{spec.name}:{len(passes)}:{kind}"
                    sc.setJobGroup(group, group)
                    t0 = time.perf_counter()
                    try:
                        with ctx.tracer.span(f"{kind}.build", "plans.registry.build", qid):
                            df = spec.spark(ctx.spark, sf_dir)
                        t1 = time.perf_counter()
                        with ctx.tracer.span(f"{kind}.execute", "plans.registry.execute", qid):
                            pdf = df.toPandas()
                    except Exception as e:  # a failed call is counted, the mix goes on
                        ctx.attempted += 1
                        ctx.fail(f"{spec.name} {kind} call raised {type(e).__name__}: {e}")
                        continue
                    t2 = time.perf_counter()
                    jobs, tasks = spark_work(sc, group)
                    calls.append(dict(name=spec.name, kind=kind, build=t1 - t0,
                                      execute=t2 - t1, jobs=jobs, tasks=tasks, result=pdf))
                    ctx.rss.sample()
        sc.setJobGroup("tankbench", "tankbench")
        passes.append((sf_dir, calls, sc._jsc.getPersistentRDDs().size()))

    # oracles, off the clock: every first and repeat result of every pass
    con = duckdb.connect()
    for sf_dir, calls, _ in passes:
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, t)}.parquet'")
        want = {s.name: oracles.frame_hash(con.execute(s.oracle).fetchdf()) for s in specs}
        for c in calls:
            ctx.attempted += 1
            if oracles.frame_hash(c.pop("result")) != want[c["name"]]:
                ctx.fail(f"{c['name']} {c['kind']} call differs from its DuckDB oracle")
    con.close()

    first = [[c for c in p[1] if c["kind"] == "first"] for p in passes]
    repeat = [[c for c in p[1] if c["kind"] == "repeat"] for p in passes]
    lat = lambda c: (c["build"] + c["execute"]) * 1000.0  # noqa: E731
    all_first = [lat(c) for cs in first for c in cs]
    all_repeat = [lat(c) for cs in repeat for c in cs]
    out = {
        "latency_p50_ms": oracles.pct(all_first, 50),
        "latency_p99_ms": oracles.pct(all_first, 99),
        "stage2_p50_ms": oracles.pct(all_repeat, 50),
        "throughput_per_s": (len(all_first) + len(all_repeat)) * 1000.0
        / (sum(all_first) + sum(all_repeat)),
    }
    ctx.record(out, passes=len(passes), queries=len(specs),
               first_call_p50_ms=out["latency_p50_ms"], first_call_p99_ms=out["latency_p99_ms"],
               query_first_s=oracles.median([sum(lat(c) for c in cs) / 1000 for cs in first]),
               query_repeat_s=oracles.median([sum(lat(c) for c in cs) / 1000 for cs in repeat]))
    L = ctx.layer
    for kind, groups in (("first", first), ("repeat", repeat)):
        L[f"query.build_{kind}_s"] += [sum(c["build"] for c in cs) for cs in groups]
        L[f"query.execute_{kind}_s"] += [sum(c["execute"] for c in cs) for cs in groups]
    L["query.spark_jobs"] += [sum(c["jobs"] for c in p[1]) for p in passes]
    L["query.spark_tasks"] += [sum(c["tasks"] for c in p[1]) for p in passes]
    L["query.stage_cache_entries"] += [p[2] for p in passes]
    for fam in FAMILIES:
        L[f"family.{fam}.first_s"] += [
            sum(lat(c) / 1000 for c in cs if family(c["name"]) == fam) for cs in first]
