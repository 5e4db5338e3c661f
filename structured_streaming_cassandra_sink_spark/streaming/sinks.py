"""Streaming sinks — foreachBatch adapters with pluggable backends.

The reference implements a per-row ForeachWriter that opens a Cassandra
session and issues one synchronous CQL INSERT per row
(cassandra_sink.scala:14-41) — its central scalability defect (SURVEY.md
§4.1) and unavailable in PySpark anyway. The idiomatic replacement is
``foreachBatch``: each micro-batch is a normal DataFrame written through
the batch writer — connector-pooled, partition-parallel, one round-trip
per partition-batch instead of per row, and epoch-tagged for replay
idempotence.

Backends:
- ``parquet_upsert_sink`` — the one MERGE sink: a local twin with the
  SAME upsert-by-key end state as the reference's Cassandra PK table
  (:71-79). MERGE is emulated as one pass — latest-per-key over
  (existing state ∪ micro-batch), then a rename swap. Each epoch still
  costs O(state): one shuffle and one sort of state ∪ batch, and a full
  rewrite of the table without parquet dictionaries. Replay safety comes
  from the merge being idempotent, not from a commit log: re-applying a
  committed epoch leaves the same end state.
- ``parquet_epoch_append_sink`` — the one append sink: each epoch
  overwrites its own ``epoch=<id>`` partition, so a replayed epoch
  cannot append its rows twice.
- ``cassandra_upsert_sink`` — production path via the Spark Cassandra
  Connector (DataSourceV2); Cassandra writes are natively upserts, so the
  batch `.save()` IS the merge. Gated: the connector jar isn't in this
  environment.

Starters — the only ``writeStream`` calls in the package:
- ``start_to_sink`` — checkpointed ``foreachBatch`` into one of the
  backends above, continuous or ``Trigger.AvailableNow``;
- ``start_to_memory`` — the in-memory table sink the demo pipelines
  use, queryable as ``SELECT * FROM <query_name>``.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def parquet_epoch_append_sink(path: str):
    """Replay-idempotent append: each epoch writes to its own partition
    directory (``epoch=<id>``) in OVERWRITE mode, so a re-delivered epoch
    after checkpoint-restart rewrites the same directory instead of
    duplicating rows — epoch-id tagging as the exactly-once mechanism
    (SURVEY.md §4.3). Readers see one dataset via partition discovery;
    at 100 TB this is the transaction-log pattern (Delta/Iceberg commit
    by epoch) in plain-parquet form."""

    def write(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{path}/epoch={epoch_id}")

    return write


def _upsert_state_complete(d: str) -> bool:
    """A state dir is adoptable only when Spark finished writing it
    (the _SUCCESS job marker) — a crash mid-write leaves no marker."""
    return os.path.isdir(d) and os.path.isfile(os.path.join(d, "_SUCCESS"))


def _recover_upsert_dir(path: str) -> None:
    """Repair any crash window of the rename-swap below (idempotent;
    safe to re-crash at any point in here too).

    Invariant: a COMPLETE ``__next`` always supersedes ``path`` — it is
    exactly (old state ⊎ some epoch's batch), and re-merging a replayed
    epoch into it converges to the same rows (latest-per-key is
    idempotent). An INCOMPLETE ``__next`` is discarded; ``__old`` is a
    superseded state and always discarded."""
    nxt, old = path + "__next", path + "__old"
    if _upsert_state_complete(nxt):
        if os.path.isdir(old):
            shutil.rmtree(old)
        if os.path.isdir(path):
            os.rename(path, old)
        os.rename(nxt, path)
    if os.path.isdir(old):
        shutil.rmtree(old)
    if os.path.isdir(nxt):  # incomplete leftover write
        shutil.rmtree(nxt)


def _state_merger(key: str, order: list[str]):
    """The upsert sink's merge: ``merge(batch, state_dir)`` is ONE
    first-row-per-key (in ``order`` desc) over state ∪ raw batch
    (idempotence makes a batch dedup of its own redundant), or over the
    batch alone when there is no state.

    The first row of each key is the one whose ``lag`` in the key window
    is null, not ``row_number() == 1`` as in :func:`latest_per_key`:
    Spark's ``InferWindowGroupLimit`` rewrites the rank form into a
    map-side ``Sort`` + partial ``WindowGroupLimit`` under the key
    ``Exchange`` and sorts again after it, so every epoch sorted the
    whole state twice. That partial top-1 drops no state row (a union
    keeps state and batch in separate map partitions, and the state is
    key-unique); it only drops a batch's superseded rows before the
    shuffle. The ``lag`` form is one ``Exchange``, one ``Sort``, one
    ``Window``, and the superseded rows cross the shuffle instead. That
    trade won on both stream benchmark workloads, ``stream_upsert_growing``
    (a state 50x the batch) and ``stream_upsert_hot`` (a batch twice the
    state, half its rows superseded), so there is no second form to pick
    from by batch size.

    The state is read with the batch's schema (by column name, so any
    column order), so no epoch runs a schema-inference job. A state
    column the batch lacks would be dropped silently, so the names are
    compared once per sink, on the first epoch that finds a state, from
    one file's parquet footer (pyarrow, no Spark job); a mismatch raises
    ``ValueError``."""
    checked = False
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order])

    def merge(batch: DataFrame, state_dir: str | None) -> DataFrame:
        nonlocal checked
        rows = batch
        if state_dir is not None:
            if not checked:  # every file of a state has the same schema
                first = min(n for n in os.listdir(state_dir) if not n.startswith(("_", ".")))
                have = pq.read_schema(os.path.join(state_dir, first)).names
                if sorted(have) != sorted(batch.columns):
                    raise ValueError(
                        f"upsert state at {state_dir} has columns {sorted(have)}, "
                        f"micro-batch has {sorted(batch.columns)}"
                    )
                checked = True
            existing = batch.sparkSession.read.schema(batch.schema).parquet(state_dir)
            rows = existing.unionByName(batch)
        return (
            rows.withColumn("__prev", F.lag(F.lit(True)).over(w))
            .filter(F.col("__prev").isNull())
            .drop("__prev")
        )

    return merge


def parquet_upsert_sink(path: str, key: str, order: list[str]):
    """Upsert-by-key into a parquet dir: the reference sink's end-state
    semantics, locally testable and restart-idempotent (re-running an
    epoch converges to the same state — same guarantee the reference gets
    from Cassandra PK upserts on replay, :19-23).

    Each epoch is one pass (:func:`_state_merger`): two Spark jobs, one
    shuffle on ``key``, one sort, one window. Its cost is still O(state):
    the shuffle carries state ∪ batch and the whole table is rewritten.
    The write turns parquet dictionary encoding off: the state's key and
    id columns are unique, so the writer builds a dictionary for each of
    their column chunks and then falls back to plain encoding — CPU spent
    for nothing. The few low-cardinality columns lose their dictionaries
    too, so the files come out about an eighth larger; on
    ``stream_upsert_growing`` the CPU the writer saves still outweighs
    the extra bytes the next epoch reads back.

    Crash safety: the merged state is written ONCE to ``path__next``
    (the lazy read of the current state is safe — ``path`` is untouched
    until that write completes), then swapped in by renames:
    current → ``__old``, ``__next`` → current, delete ``__old``. Every
    crash window leaves either the old state, or a complete ``__next``
    that :func:`_recover_upsert_dir` adopts on the next epoch.

    Readers: between the two renames there is briefly no table at
    ``path``, so read it only while no epoch is committing — after
    ``processAllAvailable()`` or ``stop()``, as every caller in this
    package does. A reader running concurrently with a commit may find
    the directory missing.

    Scale note: at 100 TB this becomes Delta/Iceberg MERGE INTO or the
    Cassandra connector below — the read-union-rewrite here is the
    jar-free local twin, not the production plan."""
    merge = _state_merger(key, order)

    def write(df: DataFrame, epoch_id: int) -> None:
        _recover_upsert_dir(path)
        nxt, old = path + "__next", path + "__old"
        merged = merge(df, path if os.path.isdir(path) else None)
        merged.write.mode("overwrite").option("parquet.enable.dictionary", "false").parquet(nxt)
        if os.path.isdir(path):
            os.rename(path, old)
        os.rename(nxt, path)
        shutil.rmtree(old, ignore_errors=True)

    return write


def cassandra_upsert_sink(keyspace: str, table: str):
    """Production sink: batch write per epoch through the Spark Cassandra
    Connector. Replaces the reference's per-row ForeachWriter INSERTs
    (cassandra_sink.scala:30-34) with connector-batched, token-aware
    writes; Cassandra PK upsert gives the same latest-per-key semantics.

    Requires `com.datastax.spark:spark-cassandra-connector` on the
    classpath and `spark.cassandra.connection.host` set (ref :49).
    """

    def write(df: DataFrame, epoch_id: int) -> None:
        (
            df.write.format("org.apache.spark.sql.cassandra")
            .options(keyspace=keyspace, table=table)
            .mode("append")
            .save()
        )

    return write


def start_to_sink(
    transformed: DataFrame,
    sink_fn,
    checkpoint_dir: str,
    query_name: str = "KafkaToSinkForeachBatch",
    output_mode: str = "update",
    available_now: bool = False,
):
    """writeStream wiring shared by all sinks — mirrors the reference's
    lifecycle (queryName/outputMode/start, cassandra_sink.scala:122-127)
    with per-query checkpointing (modern form of the global conf at :50).

    ``available_now=True`` runs in catch-up mode (Trigger.AvailableNow):
    process everything currently available in rate-limited micro-batches,
    then STOP — the backfill/cron form of the same pipeline, sharing the
    checkpoint with the continuous form."""
    writer = (
        transformed.writeStream.queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink_fn)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_to_memory(df: DataFrame, query_name: str, output_mode: str):
    """Start ``df`` into Spark's in-memory table sink, registered under
    ``query_name`` — the same queryName/outputMode/start lifecycle as
    :func:`start_to_sink`, for streams read back with SQL."""
    return df.writeStream.queryName(query_name).outputMode(output_mode).format("memory").start()
