"""Driver-hashable rows that EXECUTE the streaming engine.

Each query here runs the REAL pipeline — file message mirror ->
CAST/split/from_json parse chain -> windowed aggregation / stateful
dedup / custom state / quarantine split / stream-stream join ->
foreachBatch sink(s) — to convergence, publishes the converged sink
table as a warehouse artifact (same source-fingerprint + atomic-publish
discipline as the ANN indexes), and returns a DataFrame the driver
hashes against a plain batch oracle. So the streaming layer's
correctness is checked by the driver, not only by pytest.

Every row is built by one step, :func:`_run_stream_to_artifact`, in a
build dir laid out as:

- ``messages/`` — the Kafka-shaped message mirror of the events;
- ``checkpoint/`` — the query's checkpoint;
- ``table/`` — the converged sink table, the part the row reads back
  (the quarantine row keeps its dead-letter table beside it).

``messages/`` and ``checkpoint/`` are run scaffolding and are dropped
before the build is published.

Reference provenance: this is the reference's end-to-end operating shape
(cassandra_sink.scala:82-130) — Kafka-shaped multi-record messages
(:92-97), the parse chain (:113-116), outputMode("update") (:125) into
an upsert-by-key sink table (:71-79) — executed, not just mirrored.

Cross-engine float contract: every hashed aggregate is an exact int64
(counts, quantized-value sums, event-id checksums). Streaming state
accumulates across micro-batches in engine order, so ONLY associative
integer aggregates can promise convergence-to-oracle bit-for-bit; the
derived sum_value divides the lossless q=100 grid back out in shared
double text (functions/exactagg.py discipline).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exactagg import fgrid_sql, qlong_sql
from ..plans.registry import query
from ..session import conf_pinned
from ..sources import load_table
from ..sources.artifacts import artifact_dir, current, publish
from .pipeline import funnel_join
from .sinks import (
    parquet_epoch_append_sink,
    parquet_upsert_sink,
    start_to_sink,
)
from .sources import (
    events_to_messages,
    file_message_stream,
    parse_message_stream,
    parse_message_stream_with_quarantine,
)

MIRROR_FILES = 3  # message files -> micro-batches (maxFilesPerTrigger=1)


def _write_mirror(events: DataFrame, msg_dir: str) -> None:
    """The default message mirror: ``events`` packed into Kafka-shaped
    messages in {MIRROR_FILES} files, one micro-batch each, in no
    particular event-time order."""
    events_to_messages(events).repartition(MIRROR_FILES).write.mode(
        "overwrite"
    ).parquet(msg_dir)


def _run_stream_to_artifact(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    stream,
    sink,
    output_mode: str,
    mirror=_write_mirror,
) -> str:
    """The one run-to-convergence step of every stream row, guarded by
    the source fingerprint: if the published artifact matches the
    current input parquet, reuse it (bench and repeat driver calls
    read, not re-stream). Otherwise build it in a staging dir (layout
    in the module docstring): ``mirror(events, messages/)`` writes the
    message files, ``stream(messages)`` turns the file message stream
    into the query, Trigger.AvailableNow runs it in ``output_mode``
    through the foreachBatch ``sink(table/)`` until the mirror is
    drained, and the result is published (`sources.artifacts.publish`).
    Returns the published ``table/``.

    The build runs with the session timezone pinned to UTC. The wire
    encode casts NTZ wall times to tz-aware instants through the
    SESSION timezone; under a DST-observing driver timezone a wall time
    inside a spring-forward gap would not round-trip, and the artifact
    would bake the builder's zone into stored instants. Pinning UTC for
    the build (and materializing any NTZ output INSIDE the stream)
    makes the published artifact timezone-free; the pin is released
    afterwards, so the driver's session is untouched."""
    art_dir = artifact_dir(name, sf_dir)
    if not current(art_dir, sf_dir, ("events",)):

        def write(tmp: str) -> None:
            msg_dir = os.path.join(tmp, "messages")
            ckpt = os.path.join(tmp, "checkpoint")
            with conf_pinned(spark, "spark.sql.session.timeZone", "UTC"):
                mirror(load_table(spark, "events", sf_dir), msg_dir)
                start_to_sink(
                    stream(file_message_stream(spark, msg_dir)),
                    sink(os.path.join(tmp, "table")),
                    ckpt,
                    query_name=name,
                    output_mode=output_mode,
                    available_now=True,
                ).awaitTermination()
            for d in (msg_dir, ckpt):
                shutil.rmtree(d, ignore_errors=True)

        publish(art_dir, sf_dir, ("events",), write)
    return os.path.join(art_dir, "table")


# ------------------------------------------------- update-mode upsert row

_SU_VQ = qlong_sql("value", 100)
_SU_SUMV = fgrid_sql("CAST(svq AS DOUBLE) / 1e2", 4)


def _update_agg(messages: DataFrame) -> DataFrame:
    """The reference's operating shape: Kafka-shaped multi-record
    messages through the parse chain into an UPDATE-mode hourly
    aggregation, foreachBatch-upserted by window key ``wkey`` (the
    Cassandra-PK analogue). The aggregate state is exact int64 (count +
    q=100 value sum) so cross-micro-batch accumulation is associative —
    convergence to the batch oracle is bit-exact, not rounded."""
    parsed = parse_message_stream(messages)
    # aggregate on NTZ wall-time so the hour buckets are timezone-free
    # (the wire is tz-aware because watermarks require it; this query
    # needs no watermark — update mode + finite AvailableNow data)
    return (
        parsed.select(
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            "event_type",
            F.expr(_SU_VQ).alias("vq"),
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vq").alias("svq"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "svq",
            F.concat_ws(
                "|", F.col("w.start").cast("string"), F.col("event_type")
            ).alias("wkey"),
        )
    )


@query(
    "stream_update_upsert_state",
    f"""
    WITH g AS (
      SELECT time_bucket(INTERVAL '1 hour', ts)                   AS window_start,
             time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
             event_type,
             count(*)                AS n,
             sum({_SU_VQ})           AS svq
      FROM events GROUP BY 1, 2, 3)
    SELECT window_start, window_end, event_type, CAST(n AS BIGINT) AS n,
           {_SU_SUMV} AS sum_value
    FROM g
    """,
)
def stream_update_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERGED state of the reference pipeline, executed for real:
    multi-record Kafka-shaped messages -> CAST/split/from_json ->
    update-mode hourly aggregation -> upsert-by-key foreachBatch sink
    (cassandra_sink.scala:92-97, :113-119, :125, :71-79), run across
    {MIRROR_FILES} micro-batches with per-query checkpointing, then the
    sink table read back and hashed against DuckDB computing the same
    aggregate in ONE batch pass. Green means: update mode re-emitted
    exactly the changed windows each epoch, the PK upsert kept each
    window's latest emission, and the end state equals the full batch
    aggregate — the reference's convergence claim, driver-checked.

    Scale: the artifact build streams once per (data fingerprint) and
    republishes atomically; repeat calls are a parquet read. At 100 TB
    this is the production pattern itself — the sink IS the serving
    table; the oracle compare is the test harness around it."""
    table = _run_stream_to_artifact(
        spark,
        sf_dir,
        "stream_upsert",
        _update_agg,
        lambda t: parquet_upsert_sink(t, key="wkey", order=["n"]),
        "update",
    )
    t = spark.read.parquet(table)
    return t.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        F.col("window_end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "n",
        F.expr(_SU_SUMV).alias("sum_value"),
    )


# ------------------------------------- applyInPandasWithState row

RT_OUTPUT = "user_id bigint, n_events bigint, svq bigint, last_us bigint"
RT_STATE = "n bigint, svq bigint, last_us bigint"


def _running_totals_exact(key, pdf_iter, state):
    """Per-user running totals with EXACT-INTEGER state (driver-row twin
    of streaming/stateful._running_totals): the float `s += value.sum()`
    accumulator there is arrival-order-dependent, so a hashed contract
    uses int64 (count, Σ floor(value*100+0.5), max event micros) — the
    same numpy IEEE quantizer as the oracle text, summed exactly."""
    import numpy as np
    import pandas as pd

    n, svq, last_us = state.get if state.exists else (0, 0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        vq = np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).astype(np.int64)
        svq += int(vq.sum())
        last_us = max(last_us, int(pdf["ts"].astype("int64").max()) // 1000)
    state.update((n, svq, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "svq": [svq],
            "last_us": [last_us],
        }
    )


def _running_totals_stream(messages: DataFrame) -> DataFrame:
    """The custom stateful operator (applyInPandasWithState, update
    mode, state-store-backed per-user accumulators) over the parsed
    stream; each emission upserts by user_id, so the converged table is
    each user's final accumulator.

    last_ts is materialized as NTZ HERE, in the stream, under the
    build's UTC-pinned session: the micros->NTZ cast is
    session-timezone-dependent, so doing it lazily at read time would
    bake the DRIVER's zone into the hashed column. The published
    artifact is timezone-free."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .stateful import require_keys

    totals = require_keys(parse_message_stream(messages), "user_id", "ts").groupBy(
        "user_id"
    ).applyInPandasWithState(
        _running_totals_exact,
        outputStructType=RT_OUTPUT,
        stateStructType=RT_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return totals.select(
        "user_id",
        "n_events",
        "svq",
        F.timestamp_micros(F.col("last_us")).cast("timestamp_ntz").alias("last_ts"),
    )


@query(
    "stream_running_totals_state",
    f"""
    SELECT user_id,
           count(*)                      AS n_events,
           {fgrid_sql(f"CAST(sum({_SU_VQ}) AS DOUBLE) / 1e2", 4)} AS sum_value,
           max(ts)                       AS last_ts
    FROM events GROUP BY user_id
    """,
)
def stream_running_totals_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful operator surface (applyInPandasWithState —
    the escape hatch for state the built-in streaming ops can't
    express), executed for real and driver-hashed: per-user running
    accumulators (count, quantized-value sum, latest event micros) live
    in the streaming state store across {MIRROR_FILES} micro-batches,
    each update-mode emission upserts by user, and the converged table
    must equal DuckDB's one-pass batch aggregate over the same events.
    Green means the state store carried every key's accumulator across
    batches exactly — count, Σvq and max-micros are all order-free
    integers, so convergence is bit-exact (the float-state demo twin
    stays in streaming/stateful.py under pytest).

    Scale: state is two int64s + a timestamp per user, partitioned by
    key across executors (RocksDB provider in production); the pandas
    fn sees one key's Arrow batch per call. Artifact build streams once
    per data fingerprint, then reads (same discipline as the other
    stream rows)."""
    table = _run_stream_to_artifact(
        spark,
        sf_dir,
        "stream_running_totals_v2",
        _running_totals_stream,
        lambda t: parquet_upsert_sink(t, key="user_id", order=["n_events"]),
        "update",
    )
    t = spark.read.parquet(table)
    return t.select(
        "user_id",
        "n_events",
        F.expr(fgrid_sql("CAST(svq AS DOUBLE) / 1e2", 4)).alias("sum_value"),
        "last_ts",
    )


# -------------------------------------------- watermarked-dedup row

DUP_MOD = 7  # every 7th event is re-delivered (deterministic dup set)
DEDUP_WATERMARK = "90 days"  # wider than the data span: no eviction mid-run


def _write_redelivered_mirror(events: DataFrame, msg_dir: str) -> None:
    """The message mirror PLUS a deterministic re-delivery of every
    {DUP_MOD}th event (the duplicate lands in its original's message)."""
    _write_mirror(events.unionByName(events.filter(F.col("event_id") % DUP_MOD == 0)), msg_dir)


def _dedup(messages: DataFrame) -> DataFrame:
    """dropDuplicatesWithinWatermark(event_id) over the parsed stream,
    appended through the epoch-partitioned sink, so a replayed epoch
    rewrites its own partition instead of appending twice. The
    watermark is wider than the data span, so every duplicate within
    the run is suppressed — the converged sink must contain each event
    exactly once."""
    deduped = (
        parse_message_stream(messages)
        .withWatermark("ts", DEDUP_WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return deduped.select("event_id", "event_type", F.expr(_SU_VQ).alias("vq"))


@query(
    "stream_dedup_watermark",
    f"""
    SELECT event_type,
           count(*)                       AS n_events,
           CAST(sum(event_id) AS BIGINT)  AS id_checksum,
           CAST(sum({_SU_VQ}) AS BIGINT)  AS vq_checksum
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark, executed for real: the event
    stream is replayed WITH a deterministic duplicate delivery (every
    {DUP_MOD}th event re-sent — the at-least-once reality the
    reference's Cassandra PK upsert absorbs, cassandra_sink.scala:
    19-23), streamed through the watermarked stateful dedup into an
    append sink across {MIRROR_FILES} micro-batches. The converged sink
    is then aggregated per event_type into exact-integer invariants —
    row count, event-id checksum, quantized-value checksum — and hashed
    against DuckDB computing the same over the ORIGINAL events: equal
    iff the dedup dropped exactly the duplicates, kept exactly one copy
    of everything else, and mangled no payload. Bounded state by
    design: dedup keys older than the watermark horizon evict, which is
    what makes this operator streamable at 100 TB (naive dropDuplicates
    state grows forever); here the horizon exceeds the replay span so
    the run is exact."""
    # _v2: the epoch-partitioned sink layout versioned the artifact so no
    # flat-layout build is reused
    table = _run_stream_to_artifact(
        spark,
        sf_dir,
        "stream_dedup_v2",
        _dedup,
        parquet_epoch_append_sink,
        "append",
        mirror=_write_redelivered_mirror,
    )
    t = spark.read.parquet(table)
    return t.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
        F.sum("vq").cast("bigint").alias("vq_checksum"),
    )


# --------------------------------------- bad-records quarantine row

CORRUPT_MOD = 13  # every 13th event's wire line is deterministically mangled


def _write_corrupted_mirror(events: DataFrame, msg_dir: str) -> None:
    """The message mirror with every {CORRUPT_MOD}th event's JSON line
    deterministically truncated into garbage: a '{"bad":' prefix plus
    the line's first 8 characters — unparseable, so from_json yields
    the all-null struct the quarantine predicate routes aside."""

    def corrupt(line):
        event_id = F.get_json_object(line, "$.event_id").cast("long")
        return F.when(
            event_id % CORRUPT_MOD == 0, F.concat(F.lit('{"bad":'), F.substring(line, 1, 8))
        ).otherwise(line)

    messages = events_to_messages(events).select(
        F.array_join(F.transform(F.split("value", "\n"), corrupt), "\n").alias("value")
    )
    messages.repartition(MIRROR_FILES).write.mode("overwrite").parquet(msg_dir)


def _dead_letter_dir(table: str) -> str:
    return os.path.join(os.path.dirname(table), "quarantine")


def _quarantine_sink(table: str):
    """The quarantine parse split inside ONE foreachBatch: one read,
    fan-out to a good sink (``table``) and a dead-letter sink beside it
    — the production two-sink shape — with epoch-partitioned appends so
    a replayed epoch cannot double-count."""
    good_sink = parquet_epoch_append_sink(table)
    bad_sink = parquet_epoch_append_sink(_dead_letter_dir(table))

    def fan_out(batch: DataFrame, epoch_id: int) -> None:
        good, quarantine = parse_message_stream_with_quarantine(batch)
        good_sink(
            good.select("event_id", "event_type", F.expr(_SU_VQ).alias("vq")),
            epoch_id,
        )
        bad_sink(quarantine, epoch_id)

    return fan_out


@query(
    "stream_quarantine_audit",
    f"""
    SELECT event_type,
           count(*)                      AS n_events,
           CAST(sum(event_id) AS BIGINT) AS id_checksum
    FROM events WHERE event_id % {CORRUPT_MOD} <> 0
    GROUP BY event_type
    UNION ALL
    SELECT '__quarantined__'             AS event_type,
           count(*)                      AS n_events,
           CAST(0 AS BIGINT)             AS id_checksum
    FROM events WHERE event_id % {CORRUPT_MOD} = 0
    """,
)
def stream_quarantine_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bad-records policy, executed as a stream and driver-hashed —
    closing the semantic gap the reference leaves open (its NOT-NULL
    StructFields are declared but never enforced; malformed JSON
    silently becomes null rows, cassandra_sink.scala:105-110 /
    SURVEY §1.2): every {CORRUPT_MOD}th event's wire line is
    deterministically mangled, the stream fans out of ONE
    foreachBatch read into a good sink and a dead-letter sink
    (epoch-partitioned appends — replay-idempotent), and the converged
    tables must show exactly the uncorrupted events per type
    (count + id checksum) plus exactly one quarantined line per
    corrupted event. Green means no silent null rows reached the good
    path, nothing was double-counted across micro-batches, and no
    poison line killed the query — the operational contract a 100 TB
    ingest needs from its parse chain."""
    table = _run_stream_to_artifact(
        spark,
        sf_dir,
        "stream_quarantine",
        lambda messages: messages,
        _quarantine_sink,
        "append",
        mirror=_write_corrupted_mirror,
    )
    good = spark.read.parquet(table)
    bad = spark.read.parquet(_dead_letter_dir(table))
    g = good.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
    )
    q = bad.agg(
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        F.lit("__quarantined__").alias("event_type"),
        "n_events",
        F.lit(0).cast("bigint").alias("id_checksum"),
    )
    return g.unionByName(q)


# ------------------------------------- append-mode closed-window row


def _write_ordered_chunks(events: DataFrame, msg_dir: str) -> None:
    """Write the message mirror as {MIRROR_FILES} EVENT-TIME-ORDERED
    chunks (row_number over (ts, event_id), one file per chunk) so the
    file source replays them in order: batch k+1's events are never
    behind batch k's watermark — the precondition every tight-watermark
    build (append-mode emission, outer-join expiry) shares. The file
    source triggers files in mtime order; sequential writes USUALLY
    produce increasing mtimes, but on a fast filesystem two chunks can
    share a millisecond-granular mtime and the tie-break (arbitrary
    UUID part paths) would replay out of event-time order —
    late-dropping rows under a 0-second watermark. So each
    chunk's new part files are stamped with an explicitly increasing
    mtime."""
    import glob as _glob

    from pyspark.sql import Window as W

    w = W.orderBy("ts", "event_id")
    ev = events.withColumn("rn", F.row_number().over(w))
    n = ev.count()
    chunk = (n + MIRROR_FILES - 1) // MIRROR_FILES
    seen: set[str] = set()
    base_mtime = 0.0
    for k in range(MIRROR_FILES):
        part = ev.filter(
            (F.col("rn") > k * chunk) & (F.col("rn") <= (k + 1) * chunk)
        ).drop("rn")
        events_to_messages(part).coalesce(1).write.mode("append").parquet(
            msg_dir
        )
        new_files = sorted(
            f
            for f in _glob.glob(os.path.join(msg_dir, "part-*"))
            if f not in seen
        )
        # A chunk write that yields no 'part-*' files means the committer
        # naming drifted — fail loudly instead of silently leaving chunks
        # unstamped and replay order falling back to mtime ties, which
        # would reintroduce exactly the out-of-order replay
        # this function exists to prevent.
        if not new_files:
            raise AssertionError(
                f"chunk {k}: no new part-* files appeared under {msg_dir};"
                " output committer naming changed?"
            )
        if k == 0:
            base_mtime = max(os.stat(f).st_mtime for f in new_files)
        for f in new_files:
            os.utime(f, (base_mtime + k, base_mtime + k))
        seen.update(new_files)


def _closed_windows(messages: DataFrame) -> DataFrame:
    """Append-mode watermarked aggregation over the event-time-ordered
    mirror (_write_ordered_chunks): nothing is late-dropped and the
    emission set is deterministic — every (window, type) aggregate
    whose window end the final watermark passed, exactly once
    (epoch-partitioned appends make replays idempotent). The open tail
    windows stay in state and never emit: that asymmetry IS append
    mode's contract."""
    return (
        parse_message_stream(messages)
        .withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.expr(_SU_VQ)).alias("svq"))
        .select(
            # NTZ materialized under the build's UTC pin — tz-free
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n",
            "svq",
        )
    )


@query(
    "stream_append_closed_windows",
    f"""
    WITH mx AS (SELECT max(ts) AS mts FROM events),
    g AS (
      SELECT time_bucket(INTERVAL '1 hour', ts)                   AS window_start,
             time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
             event_type,
             count(*)      AS n,
             sum({_SU_VQ}) AS svq
      FROM events GROUP BY 1, 2, 3)
    SELECT window_start, window_end, event_type, CAST(n AS BIGINT) AS n,
           {_SU_SUMV} AS sum_value
    FROM g, mx WHERE window_end <= mts
    """,
)
def stream_append_closed_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermark semantics, executed and driver-hashed —
    the one streaming emission contract the other rows don't cover
    (update re-emits, append emits each window EXACTLY ONCE, only
    after the watermark passes its end, and open tail windows never
    emit). The oracle derives the same set declaratively: every
    (hour, type) aggregate whose window end <= max event time (the
    final watermark under a 0-second delay; the data's max ts is
    never exactly on an hour boundary at any shipped scale, so the
    <=-vs-< emission edge cannot bite). Green means: watermark
    advancement, late-drop avoidance (event-time-ordered replay),
    exactly-once emission and state eviction all behaved — per window,
    per type, with exact-integer counts and quantized sums.

    Scale note: append + watermark is THE unbounded-stream shape (state
    is only the open windows); this row pins its convergence the same
    way the update row pins the reference's upsert shape."""
    table = _run_stream_to_artifact(
        spark,
        sf_dir,
        "stream_append_closed",
        _closed_windows,
        parquet_epoch_append_sink,
        "append",
        mirror=_write_ordered_chunks,
    )
    t = spark.read.parquet(table)
    return t.select(
        "window_start",
        "window_end",
        "event_type",
        "n",
        F.expr(_SU_SUMV).alias("sum_value"),
    )


# ------------------------------------- stream-stream interval join row


# Bounded watermark delay for the INNER funnel-join build: a bounded
# delay is what lets join state be evicted at all (an unbounded one
# retains every state row forever, the one configuration that cannot
# scale). Over the event-time-ordered mirror (_write_ordered_chunks) NO
# event is ever behind the watermark, so any non-negative delay emits
# the identical matched set; the delay only sizes state: each side
# retains ~(delay + FUNNEL_WINDOW_MIN) of event time. 30 minutes is a
# production-shaped allowance for source skew, and is << the data span
# (~30 days at every shipped sf), so eviction demonstrably runs between
# micro-batches (tests/test_streaming.py::test_funnel_join_state_evicted).
FUNNEL_JOIN_WM = "30 minutes"


def _funnel_inner(messages: DataFrame) -> DataFrame:
    """Stream-STREAM interval join (pipeline.funnel_join) under the
    BOUNDED {FUNNEL_JOIN_WM} watermark: matches land in an
    epoch-partitioned append sink (inner-join emissions are final —
    append is the only mode stream-stream joins support).

    State across micro-batches is the point: a view arriving in batch 0
    must meet a click arriving in batch 2 through the join state store.
    The mirror replays in event-time order (_write_ordered_chunks —
    batch k+1's events are never behind batch k's watermark), so the
    bounded watermark is safe: the matched set is unchanged while join
    state is EVICTED as the watermark passes view_ts + interval
    (+ delay) — each side holds only ~(delay + interval) of event time,
    the production shape that scales to an unbounded stream."""
    return funnel_join(parse_message_stream(messages), FUNNEL_JOIN_WM)


@query(
    "stream_stream_funnel_join",
    """
    SELECT v.user_id,
           v.event_id AS view_id,
           c.event_id AS click_id,
           round(date_diff('microsecond', v.ts, c.ts) / 60000000.0, 4) AS minutes_between
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts > v.ts
     AND c.ts <= v.ts + INTERVAL '10 minutes'
    """,
)
def stream_stream_funnel_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join, EXECUTED and driver-hashed: a real StreamingQuery
    joins the views stream to the clicks stream across micro-batch
    boundaries through the join state store, and the converged
    epoch-partitioned sink must equal DuckDB's batch interval join over
    the same events. Green means: two-sided stream state, cross-batch
    matching, inner-join append finality and replay-idempotent epoch
    appends all behaved — per matched pair, with the minutes-between
    derived from an exact int64 micros difference in the shared
    round(x/60000000.0, 4) double contract (batch twin:
    operators/timeseries.join_interval_funnel, the oracle text here is
    the same one that query hashes green).

    The build runs with a BOUNDED {FUNNEL_JOIN_WM} watermark over the
    event-time-ordered mirror — join state is evicted as the watermark
    advances instead of retained forever; the artifact name is versioned
    (``_v2``) so no build with an unbounded watermark can be reused.

    Reference shape generalized: the streaming lifecycle of
    cassandra_sink.scala:122-129 applied to Spark's stream-stream join
    (the reference's engine has no two-stream operator; this is the
    Spark-first widening SURVEY.md §2.3 plans)."""
    table = _run_stream_to_artifact(
        spark,
        sf_dir,
        "stream_funnel_join_v2",
        _funnel_inner,
        parquet_epoch_append_sink,
        "append",
        mirror=_write_ordered_chunks,
    )
    t = spark.read.parquet(table)
    return t.select(
        "user_id",
        "view_id",
        "click_id",
        F.round(F.col("dm_us").cast("double") / 60000000.0, 4).alias(
            "minutes_between"
        ),
    )


# -------------------------------- stream-stream LEFT OUTER join row


def _funnel_left(messages: DataFrame) -> DataFrame:
    """Left-outer stream-stream join: same two sides and interval
    condition as _funnel_inner, but views that never meet a click must
    ALSO emit (null-padded) — and may do so only when the watermark
    passes their state expiry (view_ts + the interval upper bound),
    because until then a matching click could still arrive. That makes
    the OUTER emission watermark-driven, so this build uses a 0-second
    watermark over the event-time-ordered mirror
    (_write_ordered_chunks), exactly like the append-closed-windows
    row; Spark's no-data final micro-batch then flushes every expiry
    the terminal watermark passed. Views still unexpired at the
    terminal watermark stay in state and never emit — that asymmetry
    is the outer-join analogue of append mode's open-tail contract,
    and the oracle reproduces it declaratively."""
    return funnel_join(parse_message_stream(messages), "0 seconds", "leftOuter")


@query(
    "stream_stream_left_join_expiry",
    """
    WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
         c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
         wm AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM c)) AS mts),
         j AS (
           SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
                  round(date_diff('microsecond', v.ts, c.ts) / 60000000.0, 4)
                    AS minutes_between,
                  v.ts AS vts
           FROM v LEFT JOIN c
             ON v.user_id = c.user_id
            AND c.ts > v.ts
            AND c.ts <= v.ts + INTERVAL '10 minutes')
    SELECT user_id, view_id, click_id, minutes_between
    FROM j, wm
    WHERE click_id IS NOT NULL OR vts + INTERVAL '10 minutes' < mts
    """,
)
def stream_stream_left_join_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-OUTER stream-stream join, executed and driver-hashed —
    the watermark-driven state-EXPIRY emission contract that the inner
    join row (stream_stream_funnel_join) cannot exercise: an unmatched
    view emits its null-padded row only once the watermark passes
    view_ts + 10 min, and views the terminal watermark never expires
    stay unemitted in state. The oracle derives the same set
    declaratively: all matched pairs, plus unmatched views whose expiry
    STRICTLY BELOW the terminal watermark = least(max view ts, max
    click ts) — Spark's global watermark is the MIN over both sides'
    watermark columns (multipleWatermarkPolicy default), which least()
    mirrors, and Spark removes/null-emits state on a STRICT comparison
    (state ts < eviction threshold), which the oracle's `<` mirrors; a
    `<=` would agree on microsecond-random data but misalign if a
    generator ever lands an expiry exactly on the watermark. The strict
    engine behavior is pinned by
    tests/test_streaming.py::test_left_join_expiry_boundary_is_strict.
    Green means watermark-driven outer emission,
    state eviction, cross-batch inner matching and the no-data final
    micro-batch flush all behaved.

    Reference shape generalized: streaming lifecycle of
    cassandra_sink.scala:122-129 over Spark's outer stream-stream join
    (SURVEY.md §2.3 widening; no reference analogue exists)."""
    table = _run_stream_to_artifact(
        spark,
        sf_dir,
        "stream_funnel_left_join",
        _funnel_left,
        parquet_epoch_append_sink,
        "append",
        mirror=_write_ordered_chunks,
    )
    t = spark.read.parquet(table)
    return t.select(
        "user_id",
        "view_id",
        "click_id",
        F.round(F.col("dm_us").cast("double") / 60000000.0, 4).alias(
            "minutes_between"
        ),
    )
