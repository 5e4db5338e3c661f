#!/usr/bin/env python
"""Per-query profiler — one layer record of where each query's time went,
without the Spark UI: measure first, decide where the time actually goes
before touching anything.

Each query runs once under perfbench's ``tracing.Tracer`` on
``session.get_spark``'s session (UI off), and its spans reduce through
``layers.batch_layers`` to the record perfbench emits for a batch pass:
parquet resolution and eager jobs in the build (``sources.*``,
``operators.*``, with local checkpoints and the Python/py4j remainder),
Catalyst analysis/optimization/planning (``catalyst.*``), execution jobs,
stages, tasks, shuffle and spill (``exec.*``, attributed by job group from
the JVM status store), and ``trace.coverage``.

Usage:
    python tools/profile_queries.py q1 q2 ...     # named queries
    python tools/profile_queries.py --top N       # N slowest from BENCH_FULL.json
    python tools/profile_queries.py --all

Writes one JSON line per query to stdout and (optionally, --plans DIR)
the formatted plan per query to DIR/<name><suffix>.txt (--suffix,
default ``_before``).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import SF_DIR, settle  # noqa: E402 - also puts perfbench/ on sys.path
from layers import batch_layers  # noqa: E402
from run import PER_LAYER  # noqa: E402
from structured_streaming_cassandra_sink_spark.engine import plan_string  # noqa: E402
from structured_streaming_cassandra_sink_spark.session import get_spark  # noqa: E402
from tracing import Tracer, job_stats  # noqa: E402

BATCH_LAYERS = [k for k in PER_LAYER if k.split(".")[0] in ("sources", "operators", "catalyst", "exec")]


def profile(spark, tr: Tracer, name: str, fn, sf_dir: str = SF_DIR,
            plan_file: str | None = None) -> dict:
    """Build, plan and ``noop``-write ``fn(spark, sf_dir)`` under ``tr``
    and return its layer record; write its formatted plan to
    ``plan_file`` if given. The session is settled afterwards, untimed.
    Use one tracer per session: its span ids name the job groups."""
    first = len(tr.spans)
    tr.install()
    try:
        t0 = time.perf_counter()
        with tr.span("query", name):
            with tr.span("operators.build", name, jobs=True):
                df = fn(spark, sf_dir)
            with tr.span("catalyst.plan", name) as cat:
                cat["phases"] = tr.catalyst_phases(df)
            with tr.span("exec.noop_write", name, jobs=True):
                df.write.format("noop").mode("overwrite").save()
        with tr.span("trace.bookkeeping", name):
            tr.flush_listeners()
            for s in tr.spans[first:]:
                if "group" in s:
                    s["jobs"] = job_stats(spark, s["group"], tr)
        wall = time.perf_counter() - t0
    finally:
        tr.uninstall()
    unit = {"span_range": (first, len(tr.spans)), "wall_s": wall}
    rec = {**dict.fromkeys(BATCH_LAYERS, 0.0),
           **batch_layers(tr.spans, [unit], spark.sparkContext.defaultParallelism)}
    if plan_file:
        with open(plan_file, "w") as fh:
            fh.write(plan_string(df))
    del df
    settle(spark, wall)
    return {"query": name, "wall_s": round(wall, 3), **{k: round(v, 4) for k, v in rec.items()}}


def main() -> int:
    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    args = sys.argv[1:]
    plans_dir = None
    if "--plans" in args:
        i = args.index("--plans")
        plans_dir = args[i + 1]
        os.makedirs(plans_dir, exist_ok=True)
        del args[i : i + 2]
    suffix = "_before"
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        del args[i : i + 2]
    if args and args[0] == "--top":
        with open(os.path.join(REPO, "BENCH_FULL.json")) as fh:
            bf = json.load(fh)
        names = [k for k, _ in sorted(bf["queries"].items(), key=lambda kv: -kv[1])][: int(args[1])]
    elif args and args[0] == "--all":
        names = sorted(queries)
    else:
        names = args
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark(app_name="profile-queries")
    # warm-up
    spark.read.parquet(f"{SF_DIR}/nation.parquet").count()

    tracer = Tracer(spark)
    total = 0.0
    for name in names:
        plan_file = os.path.join(plans_dir, f"{name}{suffix}.txt") if plans_dir else None
        rec = profile(spark, tracer, name, queries[name], plan_file=plan_file)
        total += rec["wall_s"]
        print(json.dumps(rec), flush=True)
    print(json.dumps({"profiled": len(names), "sum_sec": round(total, 3)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
