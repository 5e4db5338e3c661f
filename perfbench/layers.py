"""Per-layer metrics from the spans and stream progress of traced units.

Batch figures are per pass (summed over the pass's queries), stream
figures per unit, ``*_ms`` phases per micro-batch; each is the median over
the run's traced units. ``operators.python_s`` is the build time left
after parquet resolution, checkpoints and eager jobs: Python and py4j.
``trace.coverage`` is the share of the unit's wall time that the layer
spans account for, leaving out the tracer's own reads of the status store
after each query (that cost shows in ``trace.overhead_frac``).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

STREAM_PHASES = ["latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets"]


def _median_dicts(rows: list[dict]) -> dict:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}


def batch_layers(spans: list[dict], units: list[dict], cores: int) -> dict:
    rows = []
    for u in units:
        i0, i1 = u["span_range"]
        v: dict[str, float] = defaultdict(float)
        run_s = 0.0
        for s in spans[i0:i1]:
            d = s["end"] - s["start"]
            jobs = s.get("jobs", {})
            name = s["name"]
            if name == "sources.parquet":
                v["sources.parquet_reads"] += 1
                v["sources.parquet_resolve_s"] += d
                v["sources.resolve_jobs"] += jobs["jobs"]
            elif name == "operators.local_checkpoint":
                v["operators.local_checkpoints"] += 1
                v["operators.local_checkpoint_s"] += d
            elif name == "operators.build":
                v["operators.build_s"] += d
                v["operators.py4j_calls"] += s["py4j_calls"]
                v["operators.eager_jobs"] += jobs["jobs"]
                v["operators.eager_s"] += jobs["job_s"]
            elif name == "catalyst.plan":
                for phase in ("analysis", "optimization", "planning"):
                    v[f"catalyst.{phase}_s"] += s["phases"].get(phase, 0.0)
                v["covered_s"] += d
            elif name == "trace.bookkeeping":
                v["bookkeeping_s"] += d
            elif name == "exec.noop_write":
                v["exec.s"] += d
                for k in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                          "shuffle_write_bytes", "spill_bytes"):
                    v[f"exec.{k}"] += jobs[k]
                run_s += jobs["run_s"]
        v["operators.python_s"] = max(
            0.0,
            v["operators.build_s"] - v["sources.parquet_resolve_s"]
            - v["operators.local_checkpoint_s"] - v["operators.eager_s"],
        )
        v["exec.core_busy_frac"] = run_s / max(1e-9, v["exec.s"] * cores)
        covered = v.pop("covered_s") + v["operators.build_s"] + v["exec.s"]
        v["trace.coverage"] = covered / (u["wall_s"] - v.pop("bookkeeping_s"))
        rows.append(v)
    return _median_dicts(rows)


def _growth(xs: list[float]) -> float:
    """Median of the last quarter over median of the first quarter."""
    q = max(1, len(xs) // 4)
    return statistics.median(xs[-q:]) / statistics.median(xs[:q])


def stream_layers(units: list[dict], cores: int) -> dict:
    rows = []
    for u in units:
        prog = u["progress"]
        dur = [p["durationMs"] for p in prog]
        add = [d.get("addBatch", 0.0) for d in dur]
        jobs = u["jobs"]
        sink = u["sink_log"]
        v = {
            "streaming.batches": len(prog),
            "streaming.input_rows": sum(p["numInputRows"] for p in prog),
            "sinks.addBatch_ms": statistics.median(add),
            "sinks.latency_growth": _growth(add),
            "sinks.state_rows": sink[-1]["state_rows"] if sink else 0,
            "sinks.bytes_written": sum(s["bytes"] for s in sink),
            "sinks.files_written": sum(s["files"] for s in sink),
            "sinks.jobs_per_batch": jobs["jobs"] / max(1, len(prog)),
            "exec.s": jobs["job_s"],
            "exec.jobs": jobs["jobs"],
            "exec.stages": jobs["stages"],
            "exec.tasks": jobs["tasks"],
            "exec.shuffle_read_bytes": jobs["shuffle_read_bytes"],
            "exec.shuffle_write_bytes": jobs["shuffle_write_bytes"],
            "exec.spill_bytes": jobs["spill_bytes"],
            "exec.core_busy_frac": jobs["run_s"] / (u["wall_s"] * cores),
            "trace.coverage": sum(d["triggerExecution"] for d in dur) / 1000 / u["wall_s"],
        }
        for phase in STREAM_PHASES:
            v[f"streaming.{phase}_ms"] = statistics.median(d.get(phase, 0.0) for d in dur)
        rows.append(v)
    return _median_dicts(rows)
