#!/usr/bin/env python3
"""Benchmark of the engine: two batch query lists and two upsert streams.

Usage (from the repository root):

    python3 perfbench/run.py --workload batch_heavy --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` measures the
same units with layer spans and reports the per-layer metrics, the tracing
overhead against untraced units of the same run, and (streams) one
single-core ``local[1]`` unit. ``--workload all`` runs every workload in
turn and prints each report. Human-readable progress goes to stderr; the
last line of stdout is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. Outputs are checked against DuckDB outside the
timed region; any wrong output makes the exit code 1.

The measurement runs in a child process; the parent waits for it, then
stops and reaps every process it left, the JVM included (reaper.py).

Inputs are generated from ``--seed`` (see datagen.py). Every file the run
writes (tables, message files, checkpoints, sinks, Spark scratch) lives in
``.perfbench_tmp/`` under the repository root and is removed at exit;
traces go to ``.perfbench_out/``. See README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"
MIN_TAIL_BEYOND = 10  # a tail percentile needs this many samples beyond it
# Above this CPU steal while measuring, wall times were seen 20 % to 2.4x slower.
NOISY_STEAL = 0.05
# JVMs write their perf-data file to /tmp whatever java.io.tmpdir says.
JVM_NO_TMP = "-XX:-UsePerfData"

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "cpu_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_gc_s": "s",
    "session.rss_peak_mb": "MB",
    "sources.parquet_reads": "count",
    "sources.parquet_resolve_s": "s",
    "sources.resolve_jobs": "count",
    "operators.build_s": "s",
    "operators.python_s": "s",
    "operators.py4j_calls": "count",
    "operators.eager_jobs": "count",
    "operators.eager_s": "s",
    "operators.local_checkpoints": "count",
    "operators.local_checkpoint_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.core_busy_frac": "frac",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.latestOffset_ms": "ms",
    "streaming.getBatch_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms",
    "streaming.local1_rows_per_s": "1/s",
    "streaming.local1_batch_p50_ms": "ms",
    "sinks.addBatch_ms": "ms",
    "sinks.state_rows": "count",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.jobs_per_batch": "count",
    "sinks.latency_growth": "ratio",
    "trace.coverage": "frac",
    "trace.overhead_frac": "frac",
    "host.nproc": "count",
    "host.loadavg_1m": "load",
    "host.cpu_steal_frac": "frac",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- statistics ---------------------------------------------------------
def tail(samples: list[float]) -> tuple[float | None, float | None, int]:
    """(value, percentile, n): the highest percentile with at least
    ``MIN_TAIL_BEYOND`` samples beyond it, or (None, None, n) when the run
    has too few samples to have one."""
    xs = sorted(samples)
    n = len(xs)
    if n <= MIN_TAIL_BEYOND:
        return None, None, n
    i = n - MIN_TAIL_BEYOND - 1
    return xs[i], 100.0 * (i + 1) / n, n


def host_sample() -> dict:
    """Load average and cumulative CPU jiffies (total, idle, steal)."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return {"load1": load1, "total": sum(vals), "idle": vals[3] + vals[4],
            "steal": vals[7] if len(vals) > 7 else 0}


def host_interval(a: dict, b: dict) -> dict:
    dt = max(1, b["total"] - a["total"])
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg_1m": max(a["load1"], b["load1"]),
            "cpu_busy_frac": 1 - (b["idle"] - a["idle"]) / dt,
            "cpu_steal_frac": (b["steal"] - a["steal"]) / dt}


# -- session ------------------------------------------------------------
def start_session(tmp: str, cores: int):
    from structured_streaming_cassandra_sink_spark.session import get_spark

    java_tmp = os.path.join(tmp, "java")
    os.makedirs(java_tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"{JVM_NO_TMP} -Djava.io.tmpdir={java_tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- one workload -------------------------------------------------------
def run_workload(name: str, seed: int, seconds: float, trace: bool, tmp: str) -> dict:
    """Set up, warm up, check and measure one workload in its own session.
    The workload's files go to ``tmp/<name>``."""
    import workloads
    from tracing import gc_seconds, rss_peak_mb

    wl = workloads.WORKLOADS[name]()
    cores = len(os.sched_getaffinity(0))
    h0 = host_sample()
    t0 = time.perf_counter()
    spark = start_session(tmp, cores)
    session_s = time.perf_counter() - t0
    try:
        setup = wl.setup(spark, seed, os.path.join(tmp, name), log)
        setup_s = session_s + setup["gen_s"] + setup["warm_s"]
        h1 = host_sample()
        gc0 = gc_seconds(spark)
        plain, traced, tracer = _measure(spark, wl, seconds, trace)
        gc_s = gc_seconds(spark) - gc0
        h2 = host_sample()
        measure = host_interval(h1, h2)
        steal = measure["cpu_steal_frac"]
        if steal > NOISY_STEAL:
            log(f"{name}: the hypervisor took {steal:.0%} of the CPU while measuring; "
                "compare only with runs at similar steal")
        rss = rss_peak_mb(spark)
        local1 = None
        if trace and wl.kind == "stream":
            spark.stop()
            spark = None
            local1 = _local1_unit(wl, tmp)
    finally:
        if spark is not None:
            spark.stop()
    units = plain + traced
    wrong = dict(setup["wrong"])
    for i, u in enumerate(units):
        if u.get("wrong"):
            wrong[f"unit{i}"] = u["wrong"]
    failed = sum(len(u["failed"]) for u in units) + len(setup["failed"])
    attempted = sum(u["attempted"] for u in units) + setup["checked"]
    report = {
        "workload": name, "seed": seed, "kind": wl.kind,
        "units": len(plain), "traced_units": len(traced),
        "unit_wall_s": [u["wall_s"] for u in plain],
        "unit_cpu_s": [u["cpu_s"] for u in plain],
        "setup": {"session_s": session_s, "gen_s": setup["gen_s"], "warm_s": setup["warm_s"],
                  "warm_units_s": setup["warm_units_s"]},
        "host": {"setup": host_interval(h0, h1), "measure": measure},
        "wrong_results": len(wrong), "wrong": wrong,
        "failed_frac": failed / max(1, attempted),
        "failures": {**setup["failed"],
                     **{f"unit{i}": u["failed"] for i, u in enumerate(units) if u["failed"]}},
    }
    if trace:
        metrics = per_layer(wl, plain, traced, tracer, report, session_s, gc_s, rss, local1)
    else:
        metrics = end_to_end(wl, plain, setup_s, report)
    return {"report": report, "metrics": metrics, "attempted": attempted,
            "failed": failed, "correct": not wrong, "tracer": tracer}


def _measure(spark, wl, seconds: float, trace: bool):
    """Units until ``seconds`` are spent (at least one; with tracing, at
    least one plain and one traced unit, alternating)."""
    from tracing import Tracer

    tracer = Tracer(spark) if trace else None
    plain, traced = [], []
    t0 = time.perf_counter()
    while True:
        use_trace = trace and len(traced) < len(plain)
        if use_trace:
            tracer.install()
            try:
                traced.append(wl.run_unit(spark, traced=tracer))
            finally:
                tracer.uninstall()
        else:
            plain.append(wl.run_unit(spark, traced=None))
        spent = time.perf_counter() - t0
        per_unit = spent / (len(plain) + len(traced))
        done = spent + per_unit / 2 >= seconds
        if done and (not trace or traced):
            return plain, traced, tracer


def _local1_unit(wl, tmp: str) -> dict:
    """One stream unit on a single core: the single-threaded baseline.
    The JVM is reused, so the unit starts warm."""
    one = start_session(tmp, cores=1)
    try:
        return wl.run_unit(one, traced=None)
    finally:
        one.stop()


def end_to_end(wl, units: list[dict], setup_s: float, report: dict) -> dict:
    """The gated metrics: set-up time and the CPU seconds of the first unit
    after warm-up. The JIT keeps cutting a unit's CPU for minutes, so a
    median over however many units the run's seconds fit would move with
    the host's speed; the first unit is a fixed point on that curve. The
    wall-time figures go to the report only: on a shared VM they move with
    the host's load far more than any bound could allow (see README.md)."""
    vals = {"setup_s": setup_s, "cpu_s": units[0]["cpu_s"]}
    report["named"] = _named_figures(wl.kind, vals, units, report)
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def _named_figures(kind: str, vals: dict, units: list[dict], report: dict) -> dict:
    """The figures under the workload-specific names of the design, with
    each tail's percentile and sample count: [value, unit, ...]. Times are
    medians over the units; query and batch times are pooled."""
    items = [x for u in units for x in u["items_s"]]
    t_val, t_pct, n = tail(items)
    pct = f"p{t_pct:.0f}" if t_pct else "none"
    named = {"setup_s": [vals["setup_s"], "s"], "cpu_s": [vals["cpu_s"], "s"],
             "wall_s": [statistics.median(u["wall_s"] for u in units), "s"],
             "rows_per_s": [statistics.median(u["rows"] / u["wall_s"] for u in units), "1/s"]}
    if kind == "batch":
        named["query_p50_s"] = [statistics.median(items), "s"]
        named["query_tail_s"] = [t_val, "s", pct, n]
    else:
        named["batch_latency_p50_ms"] = [1000 * statistics.median(items), "ms"]
        named["batch_latency_tail_ms"] = [t_val and 1000 * t_val, "ms", pct, n]
    named["failed_frac"] = [report["failed_frac"], "frac"]
    named["wrong_results"] = [report["wrong_results"], "count"]
    return named


def per_layer(wl, plain, traced, tracer, report, session_s, gc_s, rss, local1) -> dict:
    import layers

    vals = dict.fromkeys(PER_LAYER, 0.0)
    if wl.kind == "batch":
        vals.update(layers.batch_layers(tracer.spans, traced, cores=report["host"]["measure"]["nproc"]))
    else:
        vals.update(layers.stream_layers(traced, cores=report["host"]["measure"]["nproc"]))
        if local1 is not None:
            vals["streaming.local1_rows_per_s"] = local1["rows"] / local1["wall_s"]
            vals["streaming.local1_batch_p50_ms"] = 1000 * statistics.median(local1["items_s"])
    n_units = len(plain) + len(traced)
    vals["session.start_s"] = session_s
    vals["session.jvm_gc_s"] = gc_s / n_units
    vals["session.rss_peak_mb"] = rss
    vals["trace.overhead_frac"] = (
        statistics.median(u["wall_s"] for u in traced)
        / statistics.median(u["wall_s"] for u in plain) - 1
    )
    host = report["host"]["measure"]
    vals["host.nproc"] = host["nproc"]
    vals["host.loadavg_1m"] = host["loadavg_1m"]
    vals["host.cpu_steal_frac"] = host["cpu_steal_frac"]
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in vals.items()}


def stop_jvm() -> None:
    """End the session's JVM and wait for it: it exits when its stdin
    closes, and would otherwise outlive this process by a few seconds."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import pyspark  # noqa: F401

        import __spark_entry__  # noqa: F401
        import workloads
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    names = list(workloads.WORKLOADS) if args.workload == "all" else [args.workload]
    unknown = [n for n in names if n not in workloads.WORKLOADS]
    if unknown:
        log(f"unknown workload {unknown}; known: {sorted(workloads.WORKLOADS)} or all")
        return 2

    # Every file of the run, the JVM's included, stays under one directory
    # of the checkout, removed at exit.
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=scratch)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{JVM_NO_TMP} -Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(tmp, "py")
    os.makedirs(tempfile.tempdir)
    results = []
    try:
        for name in names:
            os.makedirs(os.path.join(tmp, name))
            res = run_workload(name, args.seed, args.seconds, bool(args.trace), tmp)
            if res["tracer"] is not None:
                out = os.path.join(ROOT, ".perfbench_out", f"trace-{name}-seed{args.seed}.json")
                res["tracer"].dump(out, res["report"])
                log(f"spans written to {os.path.relpath(out, ROOT)}")
            print(json.dumps({"report": res["report"]}, default=str), flush=True)
            results.append(res)
    except workloads.Failed as e:
        log(f"stream failed: {e}")
        return 1
    finally:
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
        tempfile.tempdir = None
        if not os.listdir(scratch):
            os.rmdir(scratch)
    correct = all(r["correct"] for r in results)
    metrics = results[0]["metrics"] if len(results) == 1 else {
        f"{r['report']['workload']}.{k}": v for r in results for k, v in r["metrics"].items()
    }
    print(json.dumps({
        "correct": correct,
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    import reaper

    if reaper.is_worker():
        sys.exit(main())
    sys.exit(reaper.run_supervised(os.path.abspath(__file__), sys.argv[1:]))
