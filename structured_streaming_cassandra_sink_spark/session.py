"""SparkSession factory.

Reference parity: ``SparkSessionBuilder`` (cassandra_sink.scala:43-59) builds
a session with app name, external-sink host config and a global streaming
checkpoint dir. The reference's ``Serializable`` + ``@transient lazy val``
trick (so executors can resolve a session inside a ``ForeachWriter``,
cassandra_sink.scala:52-58) is deliberately NOT reproduced: with
``foreachBatch`` the batch write runs driver-side, so executors never need a
session (SURVEY.md §3.3).

Scale notes (100 TB):
- ``spark.sql.adaptive.*`` on: runtime coalescing, skew-join splitting and
  broadcast demotion are the single biggest win at cluster scale.
- ``spark.sql.shuffle.partitions`` defaults to the local core count here;
  on a real cluster set it ~2-3x total executor cores (or rely on AQE
  coalescing from a high initial value).
- Session timezone pinned to UTC so event-time semantics are stable across
  the cluster (and match the DuckDB oracle, which is UTC-naive).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "structured_streaming_cassandra_sink_spark"


def _local_cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``checkpoint_dir`` mirrors the reference's global
    ``spark.sql.streaming.checkpointLocation`` (cassandra_sink.scala:50);
    per-query ``option("checkpointLocation", ...)`` is still preferred and
    used by the streaming sinks in :mod:`..streaming.sinks`.
    """
    cores = _local_cores()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        # In local mode the driver JVM IS every executor, so Spark's 1 GB
        # driver default (sized for a coordinate-only driver) is the wrong
        # bound: it OOMs broadcast/localCheckpoint state one decade past
        # sf0.1 (SCALING_CURVES.md fourth-decade note) and costs ~3-4% in
        # GC on the heavy sf0.1 queries. Applies only when THIS builder
        # launches the JVM; attaching to an existing session ignores it.
        # Overridable (ADVICE r5: 8g can fail to launch on small hosts):
        # kwarg > SPARK_GRAFT_DRIVER_MEMORY env > 8g default.
        .config(
            "spark.driver.memory",
            driver_memory
            or os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "8g"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # testdata events.ts is parquet TIMESTAMP(NANOS) which Spark refuses
        # by default; read as long nanos, converted in sources/tables.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if checkpoint_dir:
        builder = builder.config("spark.sql.streaming.checkpointLocation", checkpoint_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def conf_pinned(spark: SparkSession, key: str, value: str):
    """Set the session conf ``key`` to ``value`` for the block, then put
    it back: restore the previous value, or unset the key if it was not
    set, also when the block raises. A streaming query captures the
    session conf when it starts, so pinning across ``.start()`` fixes
    the conf for that query's whole life while other queries in the
    shared session keep their own."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
