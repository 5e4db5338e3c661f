"""Tests of the benchmark's own parts: generator, checker, metric names and
the stream key regimes.

Run from the repository root: ``python3 -m pytest perfbench -q``. The
stream tests start a two-core Spark session and take about a minute.
"""

from __future__ import annotations

import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = (datagen.batch_tables(s, sf=0.001) for s in (5, 5, 6))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    ev1 = datagen.stream_events(5, "growing", 4, 300, prior=50)
    ev2 = datagen.stream_events(5, "growing", 4, 300, prior=50)
    assert ev1[0].equals(ev2[0]) and ev1[1] == ev2[1] and ev1[2].equals(ev2[2])
    assert not datagen.stream_events(6, "growing", 4, 300, prior=50)[0].equals(ev1[0])


def test_growing_keys_are_fresh_in_every_file_and_hot_keys_stay_in_range():
    events, order, history = datagen.stream_events(3, "growing", 5, 600, prior=100)
    seen = set(history.column("user_id").to_pylist())
    for f in order:
        keys = events.slice(f * 600, 600).column("user_id").to_pylist()
        assert set(keys) - seen, f"file {f} brings no new key"
        seen |= set(keys)
    hot, hot_order, hot_history = datagen.stream_events(3, "hot", 3, 1500)
    assert hot_history.num_rows == 0
    assert pc.max(hot.column("user_id")).as_py() < datagen.HOT_USERS
    first = hot.slice(hot_order[0] * 1500, datagen.HOT_USERS)
    assert sorted(first.column("user_id").to_pylist()) == list(range(datagen.HOT_USERS))
    assert "error" not in first.column("event_type").to_pylist()


def test_query_order_follows_the_seed():
    def orders(seed):
        wl = workloads.WORKLOADS["batch_light"]()
        wl.rng = random.Random(seed)
        return [wl.next_order() for _ in range(3)]

    assert orders(1) == orders(1)
    assert orders(1) != orders(2)


def test_sink_checker_accepts_the_oracle_table_and_catches_a_corrupted_row(tmp_path):
    events, _, history = datagen.stream_events(4, "growing", 2, 300, prior=200)
    fed = pa.concat_tables([history, events])
    good = oracle.latest_per_key(fed)
    oracle.write_state(good, str(tmp_path / "ok"))
    assert oracle.check_sink(str(tmp_path / "ok"), fed) is None

    values = good.column("value").to_pylist()
    values[7] += 0.01
    bad = good.set_column(good.schema.get_field_index("value"), "value", pa.array(values))
    oracle.write_state(bad, str(tmp_path / "bad"))
    assert "values differ" in oracle.check_sink(str(tmp_path / "bad"), fed)

    oracle.write_state(good.slice(1), str(tmp_path / "short"))
    assert "rows" in oracle.check_sink(str(tmp_path / "short"), fed)


def test_batch_checker_is_type_and_value_strict():
    assert oracle.mismatch([(1, 2.5)], ["a", "b"], [(1, 2.5)], ["a", "b"]) is None
    assert oracle.mismatch([(2.5, 1)], ["b", "a"], [(1, 2.5)], ["a", "b"]) is None
    assert oracle.mismatch([(1, 2.5)], ["a", "b"], [(1, 2.50001)], ["a", "b"])
    assert oracle.mismatch([(936,)], ["a"], [(936.0,)], ["a"])
    assert oracle.mismatch([(1,)], ["a"], [(1,), (1,)], ["a"])


def test_tail_needs_ten_samples_beyond_it():
    assert run.tail([1.0] * 10) == (None, None, 10)
    value, pct, n = run.tail([float(i) for i in range(1, 41)])
    assert (value, n) == (30.0, 40) and pct == 75.0


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


@pytest.fixture(scope="module")
def spark():
    from structured_streaming_cassandra_sink_spark.session import get_spark

    s = get_spark(app_name="perfbench-test", master="local[2]", shuffle_partitions=2,
                  driver_memory="1g")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _state_rows_per_batch(spark, tmp, keys: str, history: int) -> tuple[list[int], dict, int]:
    """Sink rows after each batch of one traced unit, the unit's result,
    and the rows in the sink before the first batch."""
    from tracing import Tracer

    wl = workloads.StreamWorkload(f"test_{keys}", keys, n_files=4, per_file=1500,
                                  history=history, warm_files=1)
    wl.setup(spark, seed=9, tmp=str(tmp), log=lambda msg: None)
    tracer = Tracer(spark)
    tracer.install()
    try:
        res = wl.run_unit(spark, traced=tracer)
    finally:
        tracer.uninstall()
    start = oracle.latest_per_key(wl.history_events).num_rows
    return [s["state_rows"] for s in res["sink_log"]], res, start


def test_growing_grows_state_rows_on_every_batch(spark, tmp_path):
    rows, res, start = _state_rows_per_batch(spark, tmp_path, "growing", history=2000)
    assert res["wrong"] is None and start > 1000
    assert len(rows) == 4
    assert all(b > a for a, b in zip([start] + rows, rows))


def test_hot_keeps_state_rows_flat(spark, tmp_path):
    rows, res, start = _state_rows_per_batch(spark, tmp_path, "hot", history=0)
    assert res["wrong"] is None and start == 0
    assert rows == [datagen.HOT_USERS] * 4


def test_supervisor_stops_a_detached_grandchild(tmp_path):
    """A process the worker starts in a session of its own, and leaves
    running, is stopped before the supervisor returns."""
    import subprocess

    pid_file = tmp_path / "pid"
    worker = tmp_path / "worker.py"
    worker.write_text(
        "import subprocess, sys\n"
        "p = subprocess.Popen(['sleep', '600'], start_new_session=True)\n"
        f"open({str(pid_file)!r}, 'w').write(str(p.pid))\n"
        "sys.exit(3)\n"
    )
    code = (
        f"import sys; sys.path.insert(0, {HERE!r}); import reaper; "
        "reaper.GRACE_S = 0.5; "
        f"sys.exit(reaper.run_supervised({str(worker)!r}, []))"
    )
    done = subprocess.run([sys.executable, "-c", code], timeout=60)
    assert done.returncode == 3
    assert not os.path.exists(f"/proc/{int(pid_file.read_text())}")
