#!/usr/bin/env python3
"""Ocean-path benchmark: one workload per process, one fresh JVM per run.

    python3 oceanbench/run.py --workload etl_backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the `end_to_end` list of BENCHMARK.json, with --trace 1 its
`per_layer` list. The line before it is a report with every metric (also
the ones BENCHMARK.json does not list), host facts and cache sizes.

Each run is hermetic: its warehouse, temp and Spark local directories live
under `.oceanbench/` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
from dataclasses import dataclass, field
from time import perf_counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
#: A run starts no new operation after this many seconds of wall time.
DEADLINE_S = 150.0



@dataclass
class OpRecord:
    i: int
    start: float
    end: float
    problems: list[str]
    facts: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("etl_backfill", "interactive_session", "query_suite"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, nproc: int) -> None:
    """Environment for the program and its JVM, set before Spark starts."""
    dirs = {k: os.path.join(work, k) for k in ("warehouse", "tmp", "local")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # get_spark defaults to 16g of driver heap; take a quarter of RAM, 1-8 GiB.
    driver_gib = max(1, min(8, mem_kb // 2**20 // 4))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gib}g",
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "TZ": "UTC",
        # No /tmp/hsperfdata_* from the launcher or the driver JVM.
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # Python workers import the program (fetch_many's mapInPandas).
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.sql.warehouse.dir={dirs['warehouse']}",
            f"--conf spark.driver.extraJavaOptions='-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData'",
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000",
            "pyspark-shell",
        ]),
    })
    import time

    time.tzset()


def main(argv=None) -> int:
    args = parse_args(argv)
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".oceanbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path[0] = ROOT  # import the benchmark as a package, never its modules bare
    try:
        configure_env(work, nproc)
        result, report = run(args, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run or trace is there
        except OSError:
            pass
    print("report " + json.dumps(report, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0


def run(args, work: str, nproc: int):
    wall0 = perf_counter()
    from ocean_data_pipeline_spark.session import get_spark

    from oceanbench import tracing as trace, workloads

    t = perf_counter()
    spark = get_spark(f"oceanbench-{args.workload}", master=f"local[{nproc}]")
    session_start_s = perf_counter() - t
    gateway = spark.sparkContext._gateway
    try:
        jvm = trace.JvmProbe(spark)
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, work, threads=nproc)
        try:
            return measure(args, spark, wl, jvm, session_start_s, wall0)
        finally:
            wl.close()
    finally:
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run_op(wl, i: int, tracer) -> OpRecord:
    wl.before_op(i)
    tracer.op = i
    start = perf_counter()
    try:
        out, err = wl.op(i, tracer), None
    except Exception as e:  # noqa: BLE001 - a raising operation is a counted failure
        out, err = None, f"op {i} raised {type(e).__name__}: {e}"
    end = perf_counter()
    if err is not None:
        return OpRecord(i, start, end, [err])
    try:
        problems, facts = wl.check(i, out)
    except Exception as e:  # noqa: BLE001 - an output the check cannot read is wrong
        problems, facts = [f"op {i} check raised {type(e).__name__}: {e}"], {}
    return OpRecord(i, start, end, [f"op {i}: {p}" for p in problems], facts)


def measure(args, spark, wl, jvm, session_start_s: float, wall0: float):
    from oceanbench import tracing as trace

    prep = []
    for _ in range(SETUP_REPEATS):
        t = perf_counter()
        wl.prepare()
        prep.append(perf_counter() - t)
    t = perf_counter()
    wl.load()
    load_s = perf_counter() - t
    warm_tracer = trace.Tracer(spark, traced=False)
    warm = [run_op(wl, i, warm_tracer) for i in wl.warm_ops]
    setup_s = session_start_s + statistics.median(prep) + load_s + sum(op.s for op in warm)

    tracer = trace.Tracer(spark, traced=bool(args.trace))
    steal0, total0 = trace.cpu_times()
    gc0 = jvm.gc_s()
    jvm.reset_heap_peak()
    ops: list[OpRecord] = []
    busy = 0.0
    i = 0
    while (busy < args.seconds or i % wl.cycle) and perf_counter() - wall0 < DEADLINE_S:
        op = run_op(wl, i, tracer)
        ops.append(op)
        busy += op.s
        i += 1
    gc_s = jvm.gc_s() - gc0
    heap_peak_mb = jvm.heap_peak_mb()
    steal1, total1 = trace.cpu_times()
    tracer.resolve_jobs()

    all_ops = warm + ops
    failed = [op for op in all_ops if op.problems]
    durs = [op.s for op in ops]
    tail_v, tail_p, n = trace.tail(durs)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(ops) / busy,
        "latency_p50_ms": trace.median(durs) * 1000.0,
        "rows_per_s": sum(op.facts.get("rows_out", 0) for op in ops) / busy,
        "peak_rss_mb": jvm.rss_peak_mb(),
    }
    layers = layer_metrics(wl, tracer, ops, busy)
    layers.update({
        "session.start_s": session_start_s,
        "jvm.gc_s": gc_s,
        "jvm.heap_peak_mb": heap_peak_mb,
        "host.cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "trace.overhead_share": tracer.overhead_s / busy if args.trace else 0.0,
    })
    report = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": {**trace.host_facts(), "default_parallelism": spark.sparkContext.defaultParallelism,
                 "cpu_steal_share": layers["host.cpu_steal_share"]},
        "end_to_end": {**e2e, "latency_tail_ms": None if tail_v is None else tail_v * 1000.0,
                       "latency_tail_percentile": tail_p, "latency_samples": n,
                       "failed_share": len(failed) / len(all_ops)},
        "ops_ms": [round(d * 1000.0, 1) for d in durs],
        "setup_parts_s": {"session_start": session_start_s, "prepare_runs": prep, "load": load_s,
                          "warm_up": sum(op.s for op in warm)},
        "layers": layers,
        "caches": wl.cache_sizes(),
        "failures": [p for op in failed for p in op.problems][:10],
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        chosen = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in chosen}
    result = {"correct": not failed, "attempted": len(all_ops), "failed": len(failed),
              "metrics": metrics}
    if args.trace:
        tracer.dump(os.path.join(ROOT, ".oceanbench", "traces",
                                 f"{wl.name}-seed{args.seed}-{os.getpid()}.json"))
    return result, report


def _share(part: float, whole: float) -> float:
    return part / whole if whole else 0.0


def layer_metrics(wl, tracer, ops: list[OpRecord], busy: float) -> dict:
    from oceanbench import tracing as trace

    m: dict[str, float] = {}
    n = len(ops)
    spans = tracer.spans

    def sp(name):
        return [s for s in spans if s.name == name]

    def p50(name):
        return trace.median(s.ms for s in sp(name))

    def layer_time(layer):
        return sum(s.end - s.start for s in spans if s.layer == layer and s.parent is None)

    # sources.erddap: server-side view of every request made during an op.
    log = wl.fixture.log if wl.fixture is not None else []
    per_op = [[r for r in log if op.start <= r.arrival <= op.end] for op in ops]
    reqs = [r for rs in per_op for r in rs]
    urls = {r.url for r in reqs}
    dead = {r.url for r in reqs if r.status == 404} - {r.url for r in reqs if r.status == 200}
    windows, busy_parts = [], []
    for rs in per_op:
        if not rs:
            continue
        lo, hi = min(r.arrival for r in rs), max(r.finish for r in rs)
        windows.append(hi - lo)
        busy_parts.append(trace.coverage(
            [trace.Span(0, "r", r.arrival, r.finish) for r in rs], lo, hi))
    served = sum(r.bytes for r in reqs)
    m.update({
        "erddap.http_requests": _share(len(reqs), n),
        "erddap.attempts_per_url": _share(len(reqs), len(urls)),
        "erddap.dead_urls": _share(len(dead), n),
        "erddap.bytes_served": _share(served, n),
        "erddap.fetch_window_s": trace.median(windows),
        "erddap.server_busy_share": _share(sum(busy_parts), sum(windows)),
        "erddap.fan_out_tasks": trace.median(op.facts["fan_out_tasks"] for op in ops
                                             if "fan_out_tasks" in op.facts),
        "erddap.fetch_ms_p50": trace.median((r.finish - r.arrival) * 1000.0 for r in reqs),
        "erddap.window_share": _share(sum(windows), busy),
        "erddap.time_share": _share(layer_time("erddap"), busy),
    })

    # operators.cleaning: rows into and out of the cleaning pass per call.
    cleaned = [op for op in ops if "rows_in" in op.facts]
    m.update({
        "cleaning.rows_in": trace.median(op.facts["rows_in"] for op in cleaned),
        "cleaning.rows_out": trace.median(op.facts.get("clean_rows", op.facts["rows_out"])
                                          for op in cleaned),
        "cleaning.series_collect_ms_p50": p50("cleaning.collect"),
        "cleaning.time_share": _share(layer_time("cleaning"), busy),
    })

    # plans.pipeline
    runs = sp("pipeline.run_pipeline")
    written = sum(op.facts.get("bytes_written", 0) for op in ops)
    m.update({
        "pipeline.run_ms_p50": p50("pipeline.run_pipeline"),
        "pipeline.jobs_per_op": _share(sum(s.jobs for s in runs), len(runs)),
        "pipeline.tasks_per_op": _share(sum(s.tasks for s in runs), len(runs)),
        "pipeline.bytes_written_per_op": _share(written, len(runs)),
        "pipeline.write_amplification": _share(written, served) if runs else 0.0,
        "pipeline.time_share": _share(layer_time("pipeline"), busy),
    })

    # cache.result_cache
    series = [op for op in ops if "hit" in op.facts]
    puts = sp("cache.put")
    gets = sp("cache.get")
    m.update({
        "cache.hit_ratio": _share(sum(op.facts["hit"] for op in series), len(series)),
        "cache.get_ms_p50": p50("cache.get"),
        "cache.put_ms_p50": p50("cache.put"),
        "cache.put_ms_tail": trace.tail(s.ms for s in puts)[0],
        "cache.nearby_ms_p50": p50("cache.nearby"),
        "cache.stats_ms_p50": p50("cache.stats"),
        "cache.jobs_per_get": _share(sum(s.jobs for s in gets), len(gets)),
        "cache.jobs_per_put": _share(sum(s.jobs for s in puts), len(puts)),
        "cache.bytes_written_per_put": trace.median(op.facts["put_bytes"] for op in ops
                                                    if "put_bytes" in op.facts),
        "cache.time_share": _share(layer_time("cache"), busy),
    })
    sizes = wl.cache_sizes()
    m["cache.entries"] = sizes.get("result_cache_entries", 0)
    m["cache.live_bytes"] = sizes.get("result_cache_bytes", 0)

    # functions.keys
    m["keys.query_key_ms_p50"] = p50("keys.query_key")
    m["keys.time_share"] = _share(layer_time("keys"), busy)

    # catalog and queries
    m["catalog.scan_cache_entries"] = sizes.get("scan_cache_entries", 0)
    builds, actions = sp("queries.build"), sp("queries.action")
    build_s = sum(s.end - s.start for s in builds)
    action_s = sum(s.end - s.start for s in actions)
    per_query: dict[str, list[float]] = {}
    for op in ops:
        if "query" in op.facts:
            per_query.setdefault(op.facts["query"], []).append(op.s * 1000.0)
    m.update({
        "queries.build_ms_p50": p50("queries.build"),
        "queries.action_ms_p50": p50("queries.action"),
        "queries.build_share": _share(build_s, build_s + action_s),
        "queries.jobs_per_query": _share(sum(s.jobs for s in builds + actions), len(builds)),
        "queries.build_jobs_per_query": _share(sum(s.jobs for s in builds), len(builds)),
        "queries.tasks_per_query": _share(sum(s.tasks for s in builds + actions), len(builds)),
        "queries.suite_round_s": sum(trace.median(v) for v in per_query.values()) / 1000.0,
        "queries.time_share": _share(layer_time("queries"), busy),
    })
    for name, v in per_query.items():
        m[f"query.{name}.ms"] = trace.median(v)

    # Spark totals and trace quality.
    m["spark.jobs"] = _share(sum(s.jobs for s in spans), n)
    m["spark.tasks"] = _share(sum(s.tasks for s in spans), n)
    covered = sum(trace.coverage([s for s in spans if s.op == op.i], op.start, op.end)
                  for op in ops)
    m["trace.span_coverage"] = _share(covered, busy)
    return m


if __name__ == "__main__":
    raise SystemExit(main())
