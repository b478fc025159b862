"""Engine benchmark: ORD ETL, query mix and stream replay.

Run from the root of a checkout::

    python3 perfbench/run.py --workload ord_etl --seed 1 --seconds 10 --trace 0

Inputs are generated from ``--seed`` into ``.perfbench_work/`` (cached
per seed) before any timing. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``,
the end-to-end metrics of BENCHMARK.json with ``--trace 0`` and its
per-layer metrics with ``--trace 1``. Host-noise fields, failures and
sample counts go to standard error and to
``.perfbench_work/run-<workload>-s<seed>-t<trace>.json``; a traced
run also writes its spans to ``.perfbench_work/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "open_reaction_database_web_scraper_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
# Defining modules of the query_mix queries.
OPERATOR_MODULES = ["aggregates", "udfs"]
SPARK_COUNTERS = ["jobs", "stages", "tasks", "failed_task_attempts",
                  "executor_run_s", "executor_cpu_s", "jvm_gc_s",
                  "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
                  "shuffle_fetch_wait_s", "spill_bytes"]


def launch_age_s() -> float:
    """Seconds since this process was launched (from /proc)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def pin_environment() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers Spark forks import the package from it."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)


def start_session() -> tuple[object, dict]:
    """The engine's set-up: session up, operators registered."""
    from open_reaction_database_web_scraper_spark.registry import (
        load_all_operators,
    )
    from open_reaction_database_web_scraper_spark.session import get_session
    t0 = time.perf_counter()
    tmp = os.environ["TMPDIR"]
    spark = get_session("perfbench", extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"})
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    load_all_operators()
    t2 = time.perf_counter()
    return spark, {"setup_s": launch_age_s(),
                   "session.get_session_s": t1 - t0,
                   "session.load_operators_s": t2 - t1}


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _union_s(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def layer_metrics(ctx, tracer, setup: dict, first_pass_s: float) -> dict:
    """Per-layer figures: the median over the traced passes."""
    pass_ids = [i for i, s in enumerate(tracer.spans) if s["parent"] is None]
    per_pass = [_one_pass(ctx, tracer, p) for p in pass_ids]
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    out.update({"session.get_session_s": setup["session.get_session_s"],
                "session.load_operators_s": setup["session.load_operators_s"],
                "session.first_pass_s": first_pass_s})
    return out


def _one_pass(ctx, tracer, p: int) -> dict:
    spans = tracer.spans
    kids = [(i, s) for i, s in enumerate(spans) if s["parent"] == p]
    m: dict[str, float] = {}

    def add(key, value):
        m[key] = m.get(key, 0.0) + value

    for i, s in kids:
        add(f"{s['name']}_self_s", tracer.self_time(i))
    # ord and ord_sink
    for stage in ("format", "ingest", "flatten", "rollup", "renest"):
        m[f"ord.{stage}_s"] = m.pop(f"ord.{stage}_self_s", 0.0)
    m["ord_sink.write_s"] = m.pop("ord_sink.write_self_s", 0.0)
    m["trace.check_s"] = m.pop("check_self_s", 0.0)
    m.update(_ord_outputs(ctx, kids))
    # operators: one span per query, named by its defining module
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.s"] = m.pop(f"operators.{mod}_self_s", 0.0)
    # stream: the job call's self time, then the progress reports
    m["stream.drain_s"] = sum((m.pop(k) for k in list(m) if k.startswith(
        "stream.") and k.endswith("_self_s")), 0.0)
    m.update(_stream(kids))
    for k in [k for k in m if k.endswith("_self_s")]:
        del m[k]
    # python and spark: summed over the layer calls (output checks
    # are spans without counters, so they are left out)
    layer = [s for _, s in kids if "spark" in s]
    for k in ("total_s", "boot_s", "init_s", "rows_received", "bytes_sent"):
        m[f"python.{k}"] = sum(s["spark"][f"python.{k}"] for s in layer)
    for k in SPARK_COUNTERS:
        m[f"spark.{k}"] = float(sum(s["spark"][k] for s in layer))
    wall = sum(s["end"] - s["start"] - s["read_s"] for s in layer)
    busy = sum(_union_s(s["spark"]["job_intervals"], s["start"], s["end"])
               for s in layer)
    m["spark.driver_only_s"] = wall - busy
    m["spark.idle_core_share"] = (
        1.0 - m["spark.executor_run_s"] / (wall * ctx.counters.cores)
        if wall > 0 else 0.0)
    # Accounting: pass_s is the sum of the layer self times, check_s,
    # unattributed_s and overhead_s.
    m["trace.pass_s"] = spans[p]["end"] - spans[p]["start"]
    m["trace.unattributed_s"] = tracer.self_time(p)
    m["trace.overhead_s"] = sum(s["read_s"] for _, s in kids)
    return m


def _ord_outputs(ctx, kids) -> dict:
    """ord/ord_sink counts read from the pass's outputs (untimed)."""
    names = {s["name"]: s for _, s in kids}
    m = {"ord.error_records": 0.0, "ord.formatted_ratio": 0.0,
         "ord.unflagged_corrupt_records": float(
             ctx.notes.get("ord.unflagged_corrupt_records", 0)),
         "ord.renest_task_skew": 0.0, "ord_sink.rows": 0.0,
         "ord_sink.bytes": 0.0, "ord_sink.shards": 0.0}
    if "ord.format" not in names:
        return m
    import workloads
    out = ctx.inputs["out"]
    n_raw, n_err = workloads.formatted_counts(out)
    m["ord.error_records"] = float(n_err)
    m["ord.formatted_ratio"] = (n_raw - n_err) / n_raw
    reads = names["ord.renest"]["spark"]["stage_reads"]
    agg_stage = max(reads, key=lambda r: r[1])[0]
    m["ord.renest_task_skew"] = ctx.counters.task_skew(agg_stage)
    sink = os.path.join(out, "sink")
    with open(os.path.join(sink, "_MANIFEST.json"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    m["ord_sink.rows"] = float(manifest["total_rows"])
    m["ord_sink.shards"] = float(len(manifest["shards"]))
    m["ord_sink.bytes"] = float(sum(os.path.getsize(os.path.join(sink, s))
                                    for s in manifest["shards"]))
    return m


def _stream(kids) -> dict:
    m = {k: 0.0 for k in (
        "stream.batches", "stream.input_rows", "stream.add_batch_s",
        "stream.planning_s", "stream.wal_commit_s", "stream.replay_build_s",
        "state.partitions", "state.rows_total", "state.memory_bytes",
        "state.commit_s", "state.rows_removed")}
    for _, s in kids:
        progress = s["attrs"].get("progress")
        if not progress:
            continue
        dur = [p["durationMs"] for p in progress]
        m["stream.batches"] += len(progress)
        m["stream.input_rows"] += sum(p["numInputRows"] for p in progress)
        m["stream.add_batch_s"] += sum(d.get("addBatch", 0) for d in dur) / 1e3
        m["stream.planning_s"] += sum(d.get("queryPlanning", 0)
                                      for d in dur) / 1e3
        m["stream.wal_commit_s"] += sum(d.get("walCommit", 0)
                                        + d.get("commitOffsets", 0)
                                        for d in dur) / 1e3
        m["stream.replay_build_s"] += s["attrs"]["call_s"] - sum(
            d.get("triggerExecution", 0) for d in dur) / 1e3
        ops = [op for p in progress for op in p.get("stateOperators", [])]
        last = progress[-1].get("stateOperators", [])
        m["state.partitions"] += sum(op.get("numStateStoreInstances", 0)
                                     for op in last)
        m["state.rows_total"] += sum(op.get("numRowsTotal", 0) for op in last)
        m["state.memory_bytes"] = max(
            [m["state.memory_bytes"]]
            + [float(op.get("memoryUsedBytes", 0)) for op in ops])
        m["state.commit_s"] += sum(op.get("commitTimeMs", 0)
                                   for op in ops) / 1e3
        m["state.rows_removed"] += sum(op.get("numRowsRemoved", 0)
                                       for op in ops)
    return m


def run(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    pin_environment()
    import host
    import spans
    import workloads

    workload = workloads.WORKLOADS[args.workload]
    monitor = host.HostMonitor().start()
    spark, setup = start_session()
    try:
        counters = spans.SparkCounters(spark)
        progress = spans.ProgressLog()
        spark.streams.addListener(progress)
        ctx = workloads.Ctx(spark=spark, work=WORK, seed=args.seed,
                            progress=progress, counters=counters)
        workload.prepare(ctx)

        t0 = time.perf_counter()
        workload.first_pass(ctx)
        first_pass_s = time.perf_counter() - t0

        tracer = spans.Tracer(counters, f"{args.workload}-s{args.seed}")
        passes = []
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < args.seconds or not passes:
            if args.trace:
                ctx.tracer = tracer
                with tracer.span("pass"):
                    passes.append(workload.timed_pass(ctx))
                ctx.tracer = None
            else:
                passes.append(workload.timed_pass(ctx))
        e2e = workloads.summarise(passes, workload.latency)
        noise = monitor.stop()
        if args.trace:
            metrics = layer_metrics(ctx, tracer, setup, first_pass_s)
            metrics["host.peak_rss_mb"] = monitor.peak_rss / 2 ** 20
            tracer.write(os.path.join(
                WORK, f"trace-{args.workload}-s{args.seed}.json"))
        else:
            metrics = {"setup_s": setup["setup_s"],
                       "throughput_per_s": e2e["throughput_per_s"],
                       "latency_s": e2e["latency_s"]}
        info = {"workload": args.workload, "seed": args.seed,
                "trace": args.trace, "host": noise,
                "samples": e2e["samples"], "timed_passes": len(passes),
                "passes": [{k: v for k, v in p.items() if k != "work"}
                           for p in passes],
                "first_pass_s": first_pass_s, "failures": ctx.failures,
                "notes": ctx.notes}
    finally:
        stop_session(spark)
    with open(os.path.join(WORK, f"run-{args.workload}-s{args.seed}"
                                 f"-t{args.trace}.json"), "w",
              encoding="utf-8") as fh:
        json.dump(dict(info, metrics=metrics), fh, indent=1)
    print(json.dumps(info), file=sys.stderr)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    unit = {m["name"]: m["unit"] for m in declared}
    if set(unit) != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(set(unit) ^ set(metrics))}")
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": {k: {"value": v, "unit": unit[k]}
                    for k, v in metrics.items()}}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["ord_etl", "query_mix", "stream_replay"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())
