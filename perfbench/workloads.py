"""The four workloads: two batch query lists and two upsert streams.

A workload is set up once per run: inputs generated, outputs checked
against DuckDB, and warm-up. It is then measured in units: one pass over
the query list, or one stream that drains every message file into a fresh
sink. Units repeat until the run's seconds are spent. ``run_unit`` with a
``Tracer`` measures the same unit with spans. A batch query that raises is
counted as failed and the pass goes on; a stream that raises or stops
early ends the run.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext
from datetime import datetime

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from oracle import Oracle, check_sink, latest_per_key, write_state
from tracing import ProgressListener, Tracer, cpu_seconds, job_stats

BATCH_LIGHT = [
    "filter_predicate", "conditional_agg", "join_inner_broadcast", "join_semi",
    "flagship_latest_event_per_user", "groupby_agg", "text_clean", "date_derive",
]
BATCH_HEAVY = ["graph_kcore", "heavy_hitters"]


class Failed(Exception):
    """A stream unit stopped before committing every file."""


@contextmanager
def _tables_loaded():
    """Names of the tables ``load_table`` loads inside the block."""
    from structured_streaming_cassandra_sink_spark.sources import tables

    orig, loaded = tables.load_table, []

    def spy(spark, name, *args, **kwargs):
        loaded.append(name)
        return orig(spark, name, *args, **kwargs)

    # Operator modules bind the name at import, so patch every binding.
    users = [m for m in list(sys.modules.values()) if getattr(m, "load_table", None) is orig]
    for m in users:
        m.load_table = spy
    try:
        yield loaded
    finally:
        for m in users:
            m.load_table = orig


class BatchWorkload:
    """Registry queries over generated tables, forced by a ``noop`` write."""

    kind = "batch"

    def __init__(self, name: str, queries: list[str], sf: float, warm_passes: int):
        self.name, self.queries, self.sf, self.warm_passes = name, queries, sf, warm_passes

    def setup(self, spark, seed: int, tmp: str, log) -> dict:
        import __spark_entry__ as entry

        self.fns, self.sqls = entry.queries(), entry.oracle_sql()
        self.rng = random.Random(seed)
        self.data_dir = os.path.join(tmp, "tables")
        gen = []
        for _ in range(3):  # set-up is timed as the median of three
            t0 = time.perf_counter()
            tables = datagen.batch_tables(seed, self.sf)
            shutil.rmtree(self.data_dir, ignore_errors=True)
            datagen.write_tables(tables, self.data_dir)
            gen.append(time.perf_counter() - t0)
        table_rows = {t: v.num_rows for t, v in tables.items()}

        # First pass: every output against DuckDB (collect, not noop),
        # noting the tables each query loads for ``rows_per_s``.
        t0 = time.perf_counter()
        oracle = Oracle(self.data_dir)
        wrong: dict[str, str] = {}
        failed: dict[str, str] = {}
        self.rows_read = dict.fromkeys(self.queries, 0)
        oracle_s = 0.0
        for q in self.queries:
            try:
                with _tables_loaded() as loaded:
                    df = self.fns[q](spark, self.data_dir)
                self.rows_read[q] = sum(table_rows[t] for t in set(loaded))
                rows = df.collect()
            except Exception as e:  # noqa: BLE001 - counted as a failed query
                failed[q] = f"{type(e).__name__}: {e}"[:300]
                continue
            t1 = time.perf_counter()
            bad = oracle.check_rows(self.sqls.get(q), df.columns, rows)
            oracle_s += time.perf_counter() - t1
            if bad:
                wrong[q] = bad
        oracle.close()
        check_s = time.perf_counter() - t0

        passes = [self.run_unit(spark, traced=None)["wall_s"] for _ in range(self.warm_passes)]
        log(f"{self.name}: check {check_s:.1f}s (oracle {oracle_s:.1f}s), "
            f"warm passes {[round(p, 2) for p in passes]}")
        return {
            "gen_s": statistics.median(gen),
            "warm_s": check_s - oracle_s + sum(passes),
            "warm_units_s": [check_s - oracle_s] + passes,
            "wrong": wrong,
            "failed": failed,
            "checked": len(self.queries),
        }

    def next_order(self) -> list[str]:
        """The query list in the next pass's seeded order."""
        order = list(self.queries)
        self.rng.shuffle(order)
        return order

    def run_unit(self, spark, traced: Tracer | None) -> dict:
        """One pass over the query list in a seeded order."""
        order = self.next_order()
        items, failed = [], []
        first_span = len(traced.spans) if traced is not None else 0
        cpu0 = cpu_seconds()
        t_pass = time.perf_counter()
        for q in order:
            t0 = time.perf_counter()
            try:
                if traced is None:
                    df = self.fns[q](spark, self.data_dir)
                    df.write.format("noop").mode("overwrite").save()
                else:
                    rec = self._traced_query(spark, traced, q)
            except Exception as e:  # noqa: BLE001 - counted as a failed query
                failed.append(f"{q}: {type(e).__name__}: {e}"[:300])
                continue
            items.append(time.perf_counter() - t0)
            if traced is not None:
                rec["wall_s"] = items[-1]
        wall = time.perf_counter() - t_pass
        return {
            "wall_s": wall,
            "cpu_s": cpu_seconds() - cpu0,
            "items_s": items,
            "attempted": len(order),
            "failed": failed,
            "rows": sum(self.rows_read[q] for q in order),
            "span_range": (first_span, len(traced.spans) if traced is not None else 0),
        }

    def _traced_query(self, spark, tr: Tracer, q: str) -> dict:
        with tr.span("query", q) as top:
            with tr.span("operators.build", q, jobs=True):
                df = self.fns[q](spark, self.data_dir)
            with tr.span("catalyst.plan", q) as cat:
                cat["phases"] = tr.catalyst_phases(df)
            with tr.span("exec.noop_write", q, jobs=True):
                df.write.format("noop").mode("overwrite").save()
        with tr.span("trace.bookkeeping", q):
            tr.flush_listeners()
            for s in tr.spans[top["id"]:]:
                if "group" in s:
                    s["jobs"] = job_stats(spark, s["group"], tr)
        return top


class StreamWorkload:
    """``streaming_flagship`` draining message files into the upsert sink,
    one file per trigger, each trigger starting when the last commits."""

    kind = "stream"

    def __init__(self, name: str, keys: str, n_files: int, per_file: int,
                 history: int = 0, warm_files: int = 1):
        self.name, self.keys, self.history = name, keys, history
        self.n_files, self.per_file, self.warm_files = n_files, per_file, warm_files

    def setup(self, spark, seed: int, tmp: str, log) -> dict:
        from structured_streaming_cassandra_sink_spark.streaming import pipeline

        self.pipeline, self.tmp, self.units = pipeline, tmp, 0
        self.state0 = os.path.join(tmp, "state0")
        gen = []
        for _ in range(3):  # set-up is timed as the median of three
            t0 = time.perf_counter()
            self.events, self.order, history = datagen.stream_events(
                seed, self.keys, self.n_files, self.per_file, self.history
            )
            shutil.rmtree(self.state0, ignore_errors=True)
            if history.num_rows:
                write_state(latest_per_key(history), self.state0)
            gen.append(time.perf_counter() - t0)
        self.history_events = history
        t0 = time.perf_counter()
        self.src_dir = os.path.join(tmp, "messages")
        self.warm_dir = os.path.join(tmp, "warm_messages")
        self._write_messages(spark)
        pack_s = time.perf_counter() - t0

        # Warm-up: one short stream over the first files.
        t0 = time.perf_counter()
        res = self.run_unit(spark, traced=None, src=self.warm_dir)
        warm_s = time.perf_counter() - t0
        log(f"{self.name}: pack {pack_s:.1f}s, warm-up stream {res['wall_s']:.2f}s")
        return {
            "gen_s": statistics.median(gen) + pack_s,
            "warm_s": warm_s,
            "warm_units_s": [res["wall_s"]],
            "wrong": {"warm-up": res["wrong"]} if res["wrong"] else {},
            "failed": {},
            "checked": 0,
        }

    def _write_messages(self, spark) -> None:
        """Pack events into messages with ``events_to_messages`` and write
        one parquet file per micro-batch, ordered by modification time."""
        from pyspark.sql import functions as F

        from structured_streaming_cassandra_sink_spark.sources import load_table
        from structured_streaming_cassandra_sink_spark.streaming.sources import (
            events_to_messages,
        )

        ev_dir = os.path.join(self.tmp, "events")
        os.makedirs(ev_dir)
        pq.write_table(self.events, os.path.join(ev_dir, "events.parquet"))
        staging = os.path.join(self.tmp, "staging")
        first_id = F.get_json_object(F.substring_index("value", "\n", 1), "$.event_id")
        (
            events_to_messages(load_table(spark, "events", ev_dir))
            .withColumn("f", F.floor(first_id.cast("long") / self.per_file))
            .repartition("f")
            .write.partitionBy("f")
            .parquet(staging)
        )
        base = time.time() - 10 * self.n_files
        os.makedirs(self.src_dir)
        os.makedirs(self.warm_dir)
        for pos, f in enumerate(self.order):
            part_dir = os.path.join(staging, f"f={f}")
            (part,) = [p for p in os.listdir(part_dir) if p.endswith(".parquet")]
            dests = [os.path.join(self.src_dir, f"batch-{pos:05d}.parquet")]
            os.rename(os.path.join(part_dir, part), dests[0])
            if pos < self.warm_files:
                dests.append(os.path.join(self.warm_dir, f"batch-{pos:05d}.parquet"))
                shutil.copyfile(dests[0], dests[1])
            for d in dests:
                os.utime(d, (base + pos, base + pos))
        shutil.rmtree(staging)

    def fed_events(self, n_files: int) -> pa.Table:
        """History plus the events of the first ``n_files`` files fed."""
        fid = pc.divide(self.events.column("event_id"), self.per_file)
        fed = self.events.filter(pc.is_in(fid, value_set=pa.array(self.order[:n_files], pa.int64())))
        return pa.concat_tables([self.history_events, fed])

    def run_unit(self, spark, traced: Tracer | None, src: str | None = None) -> dict:
        """One stream into a fresh copy of the sink's starting table, from
        the first trigger to the last commit; then the sink is checked
        against DuckDB outside that interval."""
        src = src or self.src_dir
        n_files = len(os.listdir(src))
        self.units += 1
        unit = os.path.join(self.tmp, f"unit{self.units}")
        sink, ckpt = os.path.join(unit, "sink"), os.path.join(unit, "ckpt")
        if os.path.isdir(self.state0):
            shutil.copytree(self.state0, sink)
        listener, sink_log = ProgressListener(), []
        if traced is not None:
            spark.streams.addListener(listener)
        cpu0 = cpu_seconds()
        with self._sink_logged(sink_log) if traced is not None else nullcontext():
            query = self.pipeline.streaming_flagship(spark, src, sink, ckpt)
            try:
                query.processAllAvailable()
                progress = [json.loads(p.json) for p in query.recentProgress]
                run_id = str(query.runId)
            finally:
                query.stop()
        cpu_s = cpu_seconds() - cpu0
        progress = [p for p in progress if p["numInputRows"] > 0]
        if len(progress) != n_files:
            raise Failed(f"{len(progress)} of {n_files} files committed")
        start = _epoch(progress[0]["timestamp"])
        last = progress[-1]
        res = {
            "wall_s": _epoch(last["timestamp"]) + last["durationMs"]["triggerExecution"] / 1000
            - start,
            "cpu_s": cpu_s,
            "items_s": [p["durationMs"]["triggerExecution"] / 1000 for p in progress],
            "attempted": n_files,
            "failed": [],
            "rows": n_files * self.per_file,
            "wrong": check_sink(sink, self.fed_events(n_files)),
            "progress": progress,
        }
        if traced is not None:
            traced.flush_listeners()
            deadline = time.time() + 10
            while len([p for p in listener.progress if p["numInputRows"] > 0]) < n_files:
                if time.time() > deadline:
                    break
                time.sleep(0.05)
            spark.streams.removeListener(listener)
            res["sink_log"] = sink_log
            res["jobs"] = job_stats(spark, run_id, traced)
            self._add_spans(traced, listener.progress, sink_log)
        shutil.rmtree(unit, ignore_errors=True)
        return res

    def _add_spans(self, tr: Tracer, progress: list[dict], sink_log: list[dict]) -> None:
        """One span per trigger from the listener's progress reports; its
        phases follow in execution order (progress reports durations, not
        start times), and the sink call is timed directly."""
        sink_by_epoch = {s["epoch"]: s for s in sink_log}
        for p in progress:
            if p["numInputRows"] == 0:
                continue
            key = f"unit{self.units}/batch{p['batchId']}"
            dur = p["durationMs"]
            start = _epoch(p["timestamp"])
            trig = tr.add_span("streaming.trigger", key, start,
                               start + dur["triggerExecution"] / 1000,
                               input_rows=p["numInputRows"])
            t = start
            for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                          "addBatch", "commitOffsets"):
                if phase in dur:
                    tr.add_span(f"streaming.{phase}", key, t, t + dur[phase] / 1000,
                                parent=trig["id"], derived=True)
                    t += dur[phase] / 1000
            s = sink_by_epoch.get(p["batchId"])
            if s:
                tr.add_span("sinks.upsert", key, s["start"], s["end"], parent=trig["id"],
                            state_rows=s["state_rows"], files=s["files"], bytes=s["bytes"])

    @contextmanager
    def _sink_logged(self, log: list):
        """Inside the block, the stream's sink function is timed, and the
        table's rows, files and bytes are read from parquet footers after
        each epoch."""
        orig = self.pipeline.parquet_upsert_sink

        def traced_sink(path, key, order):
            inner = orig(path, key, order)

            def write(df, epoch_id):
                t0 = time.time()
                inner(df, epoch_id)
                t1 = time.time()
                files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
                log.append({
                    "epoch": epoch_id, "start": t0, "end": t1,
                    "state_rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                    "files": len(files),
                    "bytes": sum(os.path.getsize(f) for f in files),
                })

            return write

        self.pipeline.parquet_upsert_sink = traced_sink
        try:
            yield
        finally:
            self.pipeline.parquet_upsert_sink = orig


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


WORKLOADS = {
    "batch_light": lambda: BatchWorkload("batch_light", BATCH_LIGHT, sf=0.01, warm_passes=2),
    "batch_heavy": lambda: BatchWorkload("batch_heavy", BATCH_HEAVY, sf=0.01, warm_passes=1),
    "stream_upsert_growing": lambda: StreamWorkload(
        "stream_upsert_growing", "growing", n_files=3, per_file=3000, history=150_000
    ),
    "stream_upsert_hot": lambda: StreamWorkload(
        "stream_upsert_hot", "hot", n_files=3, per_file=3000
    ),
}
