#!/usr/bin/env python
"""Per-query profiler — wall time split into plan-build vs execute, plus
Spark job/stage/task counts from the UI REST API (guide §1: measure first,
decide where the time actually goes before touching anything).

Usage:
    python tools/profile_queries.py q1 q2 ...     # named queries
    python tools/profile_queries.py --top N       # N slowest from BENCH_FULL.json
    python tools/profile_queries.py --all

Writes one JSON line per query to stdout and (optionally, --plans DIR)
the formatted plan per query to DIR/<name>_before.txt.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, bench_session  # noqa: E402


def _rest(base: str, app: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}") as r:
        return json.load(r)


def main() -> int:
    spark = bench_session("profile-queries")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

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
        bf = json.load(open(os.path.join(os.path.dirname(__file__), "..", "BENCH_FULL.json")))
        names = [k for k, _ in sorted(bf["queries"].items(), key=lambda kv: -kv[1])][: int(args[1])]
    elif args and args[0] == "--all":
        names = sorted(queries)
    else:
        names = args
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown: {unknown}", file=sys.stderr)
        return 2

    # warm-up
    spark.read.parquet(f"{SF_DIR}/nation.parquet").count()

    import gc

    out = []
    for name in names:
        jobs0 = _rest(ui, app_id, "jobs")
        n_jobs0 = len(jobs0)
        t0 = time.perf_counter()
        df = queries[name](spark, SF_DIR)
        t_build = time.perf_counter() - t0
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_exec = time.perf_counter() - t1
        jobs1 = _rest(ui, app_id, "jobs")
        new_jobs = [j for j in jobs1 if j["jobId"] not in {x["jobId"] for x in jobs0}]
        n_stages = sum(len(j.get("stageIds", [])) for j in new_jobs)
        n_tasks = sum(j.get("numTasks", 0) for j in new_jobs)
        rec = {
            "query": name,
            "total_sec": round(t_build + t_exec, 3),
            "build_sec": round(t_build, 3),
            "exec_sec": round(t_exec, 3),
            "n_jobs": len(jobs1) - n_jobs0,
            "n_stages": n_stages,
            "n_tasks": n_tasks,
        }
        if plans_dir:
            try:
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            except Exception:
                import io
                from contextlib import redirect_stdout

                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                plan = buf.getvalue()
            with open(os.path.join(plans_dir, f"{name}{suffix}.txt"), "w") as fh:
                fh.write(plan)
        out.append(rec)
        print(json.dumps(rec), flush=True)
        df = None
        gc.collect()
        spark._jvm.System.gc()
    total = sum(r["total_sec"] for r in out)
    print(json.dumps({"profiled": len(out), "sum_sec": round(total, 3)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
