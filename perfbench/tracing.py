"""Layer tracing from outside the engine.

Spans are recorded around calls into the engine's public surface only:
``DataFrameReader.parquet`` (sources), the query builders and
``localCheckpoint`` (operators), ``QueryExecution.executedPlan`` (catalyst),
the ``noop`` write (exec), the stream driver and its sink function
(streaming, sinks). Every span that can start Spark jobs gets its own job
group, so jobs, stages, tasks, shuffle bytes and spill are attributed from
the JVM status store without the Spark UI. Spans stay in memory until
:meth:`Tracer.dump` writes them at the end of a run.
"""

from __future__ import annotations

import json
import os
import resource
import time
from contextlib import contextmanager, nullcontext

import py4j.clientserver
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.readwriter import DataFrameReader
from pyspark.sql.streaming.listener import StreamingQueryListener

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    """Spans, job groups and py4j call counts for one benchmark run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._stack: list[dict] = []
        self._internal = 0
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    @contextmanager
    def internal(self):
        """JVM calls made by the tracer itself are not counted."""
        self._internal += 1
        try:
            yield
        finally:
            self._internal -= 1

    @contextmanager
    def span(self, name: str, key: str, jobs: bool = False):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "key": key,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        calls0 = self.py4j_calls
        if jobs:
            rec["group"] = f"perfbench-{rec['id']}"
            with self.internal():
                outer = self.sc.getLocalProperty(JOB_GROUP)
                self.sc.setLocalProperty(JOB_GROUP, rec["group"])
        try:
            yield rec
        finally:
            if jobs:
                with self.internal():
                    self.sc.setLocalProperty(JOB_GROUP, outer)
            rec["end"] = time.time()
            rec["py4j_calls"] = self.py4j_calls - calls0
            self._stack.pop()

    def add_span(self, name: str, key: str, start: float, end: float, parent=None, **fields):
        """A span measured elsewhere (stream progress, sink callbacks)."""
        rec = {"id": len(self.spans), "name": name, "key": key, "parent": parent,
               "start": start, "end": end, **fields}
        self.spans.append(rec)
        return rec

    # -- hooks ---------------------------------------------------------
    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        tracer = self

        def count_calls(orig):
            def send_command(conn, command, *args, **kwargs):
                if not tracer._internal:
                    tracer.py4j_calls += 1
                return orig(conn, command, *args, **kwargs)

            return send_command

        def spanned(name):
            def make(orig):
                def call(*args, **kwargs):
                    key = tracer._stack[-1]["key"] if tracer._stack else "-"
                    with tracer.span(name, key, jobs=True):
                        return orig(*args, **kwargs)

                return call

            return make

        self._patch(py4j.clientserver.ClientServerConnection, "send_command", count_calls)
        self._patch(DataFrameReader, "parquet", spanned("sources.parquet"))
        # PySpark 4 dispatches to the classic subclass; wrapping the base
        # DataFrame.localCheckpoint would never be called.
        self._patch(ClassicDataFrame, "localCheckpoint", spanned("operators.local_checkpoint"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- JVM-side measurements -----------------------------------------
    def flush_listeners(self) -> None:
        with self.internal():
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def catalyst_phases(self, df) -> dict:
        """Plan ``df`` and return the tracker's phase durations in seconds."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        with self.internal():
            it = qe.tracker().phases().iterator()
            phases = {}
            while it.hasNext():
                kv = it.next()
                phases[kv._1()] = kv._2().durationMs() / 1000.0
        return phases

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": self.spans}, fh)


def job_stats(spark, group: str, tracer: Tracer | None = None) -> dict:
    """Jobs, stages, tasks, bytes and busy time of one job group."""
    sc = spark.sparkContext
    out = {"jobs": 0, "stages": 0, "tasks": 0, "job_s": 0.0, "run_s": 0.0,
           "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    with tracer.internal() if tracer else nullcontext():
        store = sc._jsc.sc().statusStore()
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(job_id)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1000.0
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                stage = store.lastStageAttempt(stage_ids.apply(i))
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numTasks()
                out["run_s"] += stage.executorRunTime() / 1000.0
                out["shuffle_read_bytes"] += stage.shuffleReadBytes()
                out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                out["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
    return out


class ProgressListener(StreamingQueryListener):
    """Keeps every progress report of the benchmark's own streams."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def rss_peak_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except OSError:
        pass
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def cpu_seconds() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant (the JVM, Python workers), with the children each of
    them has reaped. It moves far less than wall time when the VM's host
    takes CPU away from it."""
    from reaper import descendants

    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")
