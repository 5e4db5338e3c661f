#!/usr/bin/env python
"""Interleaved in-session A/B of two code versions of the same query.

The decisive instrument on this box (r10 postmortem: full-bench totals on
IDENTICAL code drifted ±12% across one evening, so no two runs hours apart
are comparable). Protocol: ONE Spark session, both implementations of each
query run alternately (order flips per pass, bench.py-style), >=4 timed
samples each after an untimed warm-up, each one bench.py's ``timed_step``
on ``session.get_spark``'s session. Each sample records wall seconds and
CPU seconds (user + system of this process, the JVM and the Python
workers, as perfbench's ``cpu_s``).

Usage:
    python tools/ab_interleaved.py --old /tmp/repo_r9 q1 q2 ...
    python tools/ab_interleaved.py --old /tmp/repo_r9 --samples 6 q1

Results print as JSON lines and are written to ``--out``, by default
``bench_ab/ab_<timestamp>.json`` in this repo. Each query's record also
carries the inputs of the gain rule (``summarize``): the passes new won
on wall and CPU time, and the old side's quartiles.

The OLD version is loaded from a git worktree checkout by temporarily
swapping sys.modules/sys.path so both registries coexist in one process.
The old worktree needs a spark-warehouse symlink if any query reads
prebuilt artifacts (dupgraph, ANN indexes).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import timed_step  # noqa: E402
from structured_streaming_cassandra_sink_spark.session import get_spark  # noqa: E402

PKG = "structured_streaming_cassandra_sink_spark"


def _load_registry(repo_path: str) -> dict:
    """Import the package rooted at repo_path and return its QUERIES map.

    Temporarily evicts any already-imported package modules so the import
    machinery resolves everything (including the package's absolute
    self-imports) against repo_path, then restores the previous modules.
    The returned callables keep references to their own module objects, so
    both versions stay usable side by side."""
    saved = {
        k: v
        for k, v in sys.modules.items()
        if k == PKG or k.startswith(PKG + ".")
    }
    for k in saved:
        del sys.modules[k]
    sys.path.insert(0, repo_path)
    try:
        reg = importlib.import_module(PKG + ".plans.registry")
        reg.load_all()
        queries = dict(reg.QUERIES)
    finally:
        sys.path.remove(repo_path)
        for k in [k for k in sys.modules if k == PKG or k.startswith(PKG + ".")]:
            del sys.modules[k]
        sys.modules.update(saved)
    return queries


def _quartiles(xs: list[float]) -> tuple[float, float]:
    """(q1, q3) of xs, exclusive method; one sample is its own quartiles."""
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def summarize(o: list[float], n: list[float], oc: list[float], nc: list[float]) -> dict:
    """One query's record from per-pass wall (o, n) and CPU (oc, nc)
    seconds of the old and new sides, pass i of each side paired.

    Besides minima, medians and their ratios it carries the inputs of
    the gain rule (choosing-metrics §8: new wins >= 9/10 passes and the
    median gap exceeds the old side's IQR): ``wall_wins``/``cpu_wins``
    count the passes where new was strictly lower (ties count for
    neither), and ``old_q1``/``old_q3`` (wall) and
    ``old_cpu_q1``/``old_cpu_q3`` are the old side's quartiles."""
    (q1, q3), (cq1, cq3) = _quartiles(o), _quartiles(oc)
    return {
        "old": [round(x, 3) for x in o],
        "new": [round(x, 3) for x in n],
        "old_min": round(min(o), 3),
        "new_min": round(min(n), 3),
        "old_median": round(statistics.median(o), 3),
        "new_median": round(statistics.median(n), 3),
        "old_q1": round(q1, 3),
        "old_q3": round(q3, 3),
        "wall_wins": sum(b < a for a, b in zip(o, n)),
        "speedup_min": round(min(o) / min(n), 3),
        "speedup_median": round(statistics.median(o) / statistics.median(n), 3),
        "old_cpu": [round(x, 3) for x in oc],
        "new_cpu": [round(x, 3) for x in nc],
        "old_cpu_median": round(statistics.median(oc), 3),
        "new_cpu_median": round(statistics.median(nc), 3),
        "old_cpu_q1": round(cq1, 3),
        "old_cpu_q3": round(cq3, 3),
        "cpu_wins": sum(b < a for a, b in zip(oc, nc)),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--old", required=True, help="path to old-version worktree")
    ap.add_argument("--samples", type=int, default=5)
    ap.add_argument(
        "--out",
        default=os.path.join(REPO, "bench_ab", f"ab_{time.strftime('%Y%m%d-%H%M%S')}.json"),
        help="write JSON results here too (default: a timestamped file under "
        "bench_ab/, so the evidence for a keep/revert can be committed)",
    )
    args = ap.parse_args()

    old_q = _load_registry(args.old)
    new_q = _load_registry(REPO)
    for n in args.names:
        if n not in old_q or n not in new_q:
            print(f"unknown query (old={n in old_q} new={n in new_q}): {n}",
                  file=sys.stderr)
            return 2

    spark = get_spark(app_name="ab-interleaved")

    results: dict[str, dict] = {}
    samples: dict[tuple[str, str], list[float]] = {}
    cpus: dict[tuple[str, str], list[float]] = {}
    for name in args.names:
        for variant in ("old", "new"):
            samples[(name, variant)] = []
            cpus[(name, variant)] = []
        # untimed warm-up of BOTH shapes (JIT/codegen/IO cache)
        spark.sparkContext.setJobDescription(f"warmup old {name}")
        timed_step(spark, old_q[name])
        spark.sparkContext.setJobDescription(f"warmup new {name}")
        timed_step(spark, new_q[name])

    for p in range(args.samples):
        order = ["old", "new"] if p % 2 == 0 else ["new", "old"]
        for name in args.names:
            for variant in order:
                fn = old_q[name] if variant == "old" else new_q[name]
                spark.sparkContext.setJobDescription(f"{variant} {name} pass{p}")
                dt, cpu = timed_step(spark, fn)
                samples[(name, variant)].append(dt)
                cpus[(name, variant)].append(cpu)

    for name in args.names:
        results[name] = summarize(
            samples[(name, "old")], samples[(name, "new")],
            cpus[(name, "old")], cpus[(name, "new")],
        )
        print(json.dumps({"query": name, **results[name]}))
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(results, fh, indent=1)
    print(f"results: {args.out}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
