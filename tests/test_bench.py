"""bench.py's BENCH_FULL.json guard — Spark-free."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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
