"""The measuring harness: bench.py's BENCH_FULL.json guard and the A/B
summary (both Spark-free), its one-session/one-step structure, and the
UI-free profiler."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from ab_interleaved import summarize  # noqa: E402
from bench import replaces_full_record  # noqa: E402

REGISTERED = ["q1", "q2", "q3"]
RECORD = {"sf": 0.1, "queries": {n: 1.0 for n in REGISTERED}}


def test_subset_run_leaves_full_record():
    assert not replaces_full_record(["q1", "q3"], REGISTERED, 0.1, RECORD)


def test_other_scale_run_leaves_full_record():
    assert not replaces_full_record(REGISTERED, REGISTERED, 0.001, RECORD)


def test_full_same_scale_run_writes_full_record():
    assert replaces_full_record(list(reversed(REGISTERED)), REGISTERED, 0.1, RECORD)
    assert replaces_full_record(REGISTERED, REGISTERED, 0.01, None)


def test_ab_summary_carries_gain_rule_inputs():
    """Wins are strict per-pass (a tie counts for neither side) and the
    old side's quartiles are the exclusive-method q1/q3."""
    old = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    new = [9.0, 10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 19.0]
    cpu_old, cpu_new = [2.0] * 10, [2.0] * 5 + [1.0] * 5
    r = summarize(old, new, cpu_old, cpu_new)
    assert (r["wall_wins"], r["cpu_wins"]) == (9, 5)
    assert (r["old_q1"], r["old_q3"]) == (11.75, 17.25)
    assert (r["old_cpu_q1"], r["old_cpu_q3"]) == (2.0, 2.0)
    assert (r["old_median"], r["new_median"]) == (14.5, 13.5)
    one = summarize([3.0], [2.0], [1.0], [1.0])
    assert (one["old_q1"], one["old_q3"], one["wall_wins"], one["cpu_wins"]) == (3.0, 3.0, 1, 0)


def _py_files_containing(*tokens: str) -> dict[str, set[str]]:
    """Repo-relative .py paths holding each token; this file excluded."""
    found: dict[str, set[str]] = {t: set() for t in tokens}
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x != "spark-warehouse"]
        for n in files:
            path = os.path.join(d, n)
            if not n.endswith(".py") or path == os.path.abspath(__file__):
                continue
            with open(path) as fh:
                text = fh.read()
            for t in tokens:
                if t in text:
                    found[t].add(os.path.relpath(path, ROOT))
    return found


def test_measuring_harness_has_one_session_factory_and_no_ui_reads():
    """Every timing tool runs on session.get_spark: the only other builder
    is tools/check.py's driver-sim --plain session, no second measuring
    session exists, and no tool reads the Spark UI's REST API."""
    found = _py_files_containing("SparkSession.builder", "def bench_session", "uiWebUrl", "/api/v1")
    assert found["SparkSession.builder"] == {
        os.path.join("structured_streaming_cassandra_sink_spark", "session.py"),
        os.path.join("tools", "check.py"),
    }
    assert not found["def bench_session"]
    assert not {p for t in ("uiWebUrl", "/api/v1") for p in found[t] if p.startswith("tools")}


def test_profiler_emits_layer_record_without_ui(spark, sf_dir):
    from profile_queries import profile
    from tracing import Tracer

    from structured_streaming_cassandra_sink_spark.plans import registry

    assert spark.sparkContext.uiWebUrl is None  # the conftest session, UI off
    registry.load_all()
    fn = registry.QUERIES["join_inner_broadcast"]
    tracer = Tracer(spark)
    once = profile(spark, tracer, "join_inner_broadcast", fn, sf_dir)
    rec = profile(spark, tracer, "join_inner_broadcast", fn, sf_dir)
    # a second profile on the same tracer counts only its own jobs
    assert rec["exec.jobs"] <= once["exec.jobs"]
    assert rec["query"] == "join_inner_broadcast"
    for layer in ("sources", "operators", "catalyst", "exec"):
        assert any(k.startswith(layer + ".") for k in rec), layer
    assert rec["sources.parquet_reads"] >= 1
    assert rec["exec.jobs"] >= 1
    assert rec["trace.coverage"] >= 0.95
