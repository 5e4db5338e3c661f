"""Streaming semantics tests (SURVEY.md §5.3).

Strategy (hard part (b)): streaming results are verified against their
batch twins on the same data — file-source micro-batches + memory/parquet
sinks + processAllAvailable() make the streaming run synchronous and
deterministic.
"""

from __future__ import annotations

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from structured_streaming_cassandra_sink_spark.plans.flagship import latest_per_key, transform_events
from structured_streaming_cassandra_sink_spark.sources import load_table
from structured_streaming_cassandra_sink_spark.streaming.batch_equiv import tumbling_agg
from structured_streaming_cassandra_sink_spark.streaming.pipeline import (
    streaming_dedup_events,
    streaming_flagship,
    streaming_tumbling,
)
from structured_streaming_cassandra_sink_spark.streaming.sources import (
    events_to_messages,
    parse_message_stream,
)


@pytest.fixture(scope="module")
def message_dir(spark, sf_dir, tmp_path_factory):
    """Events packed into Kafka-shaped multi-record messages, split into
    4 parquet files => 4 deterministic micro-batches."""
    out = str(tmp_path_factory.mktemp("messages"))
    events = load_table(spark, "events", sf_dir)
    msgs = events_to_messages(events, records_per_message=3)
    msgs.repartition(4).write.mode("overwrite").parquet(out)
    return out


def _batch_parsed(spark, message_dir):
    msgs = spark.read.parquet(message_dir)
    return parse_message_stream(msgs)


def test_parse_chain_roundtrip(spark, sf_dir, message_dir):
    """messages -> parse chain == original events (the serialization is
    lossless, including the nested JSON props string)."""
    events = load_table(spark, "events", sf_dir)
    parsed = _batch_parsed(spark, message_dir)
    assert parsed.count() == events.count()
    orig = {r.event_id: r for r in events.collect()}
    for r in parsed.collect():
        o = orig[r.event_id]
        assert (r.ts, r.user_id, r.event_type, r.props) == (o.ts, o.user_id, o.event_type, o.props)


def test_streaming_tumbling_equals_batch(spark, message_dir):
    q = streaming_tumbling(spark, message_dir, query_name="t_tumbling")
    try:
        q.processAllAvailable()
        got = {
            (r.window_start, r.window_end, r.event_type): (r.n, r.sum_value)
            for r in spark.sql("SELECT * FROM t_tumbling").collect()
        }
    finally:
        q.stop()
    want = {
        (r.window_start, r.window_end, r.event_type): (r.n, r.sum_value)
        for r in tumbling_agg(_batch_parsed(spark, message_dir)).collect()
    }
    assert got == want


def test_streaming_tumbling_update_mode_upsert_converges(
    spark, message_dir, tmp_path
):
    """The reference's exact operating mode (cassandra_sink.scala:125):
    UPDATE-mode windowed agg into the upsert-by-key sink. Each micro-batch
    re-emits only changed windows; the accumulated upsert state must equal
    the batch aggregate. Watermark is set wider than the data span because
    the file mirror replays out of event-time order (see streaming_funnel
    docstring)."""
    from structured_streaming_cassandra_sink_spark.streaming.pipeline import (
        streaming_tumbling_update_upsert,
    )

    sink_dir = str(tmp_path / "upd_sink")
    ckpt = str(tmp_path / "upd_ckpt")
    q = streaming_tumbling_update_upsert(
        spark,
        message_dir,
        sink_dir,
        ckpt,
        query_name="t_tumbling_update",
        watermark="3650 days",
    )
    try:
        q.processAllAvailable()
        progress = [p for p in q.recentProgress if p]
    finally:
        q.stop()
    got = {
        (r.window_start, r.window_end, r.event_type): (r.n, r.sum_value)
        for r in spark.read.parquet(sink_dir).collect()
    }
    want = {
        (r.window_start, r.window_end, r.event_type): (r.n, r.sum_value)
        for r in tumbling_agg(_batch_parsed(spark, message_dir)).collect()
    }
    assert got == want
    # multiple micro-batches actually ran (update-mode incremental path,
    # not one complete re-emit); foreachBatch reports numOutputRows=-1,
    # so count batches by input rows
    assert sum(1 for p in progress if p.get("numInputRows", 0) > 0) >= 2


def test_streaming_flagship_converges_to_batch(spark, sf_dir, message_dir, tmp_path):
    sink_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_flagship(spark, message_dir, sink_dir, ckpt, max_files_per_trigger=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.user_id: (r.ts, r.event_id) for r in spark.read.parquet(sink_dir).collect()}
    batch = latest_per_key(
        transform_events(load_table(spark, "events", sf_dir)), "user_id", ["ts", "event_id"]
    )
    want = {r.user_id: (r.ts, r.event_id) for r in batch.collect()}
    assert got == want


def test_streaming_flagship_restart_idempotent(spark, sf_dir, message_dir, tmp_path):
    """Restart from the checkpoint with the last epoch's commit removed,
    so the engine re-delivers an epoch whose MERGE already reached the
    sink: the sink's end state still equals the batch result (the
    engine's version of the reference's PK-upsert replay safety, :19-23)."""
    sink_dir = str(tmp_path / "sink2")
    ckpt = str(tmp_path / "ckpt2")
    q = streaming_flagship(spark, message_dir, sink_dir, ckpt, max_files_per_trigger=3)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # a crash after the sink wrote but before the commit log entry landed
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    q2 = streaming_flagship(spark, message_dir, sink_dir, ckpt, max_files_per_trigger=3)
    try:
        q2.processAllAvailable()
        replayed = [p for p in q2.recentProgress if p.get("numInputRows", 0) > 0]
    finally:
        q2.stop()
    assert replayed, "the restart must re-deliver the uncommitted epoch"
    rows = spark.read.parquet(sink_dir).collect()
    got = {r.user_id: (r.ts, r.event_id) for r in rows}
    assert len(rows) == len(got), "the replayed epoch duplicated keys"
    batch = latest_per_key(
        transform_events(load_table(spark, "events", sf_dir)), "user_id", ["ts", "event_id"]
    )
    want = {r.user_id: (r.ts, r.event_id) for r in batch.collect()}
    assert got == want


def test_streaming_dedup_suppresses_duplicates(spark, sf_dir, tmp_path):
    """Deliver every message twice (two identical files): output still has
    each event_id exactly once."""
    src = str(tmp_path / "dup_messages")
    events = load_table(spark, "events", sf_dir)
    msgs = events_to_messages(events, records_per_message=5).coalesce(1)
    msgs.write.mode("overwrite").parquet(src)
    msgs.write.mode("append").parquet(src)  # duplicate delivery
    q = streaming_dedup_events(spark, src, query_name="t_dedup")
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT event_id, count(*) c FROM t_dedup GROUP BY event_id HAVING count(*) > 1")
        dupes = out.collect()
        total = spark.sql("SELECT count(DISTINCT event_id) n FROM t_dedup").first().n
    finally:
        q.stop()
    assert dupes == []
    assert total == events.count()


def test_stateful_running_totals_converge_to_batch(spark, sf_dir, message_dir):
    """applyInPandasWithState accumulator: after all micro-batches, the
    last emitted row per user equals the batch groupBy aggregate."""
    from structured_streaming_cassandra_sink_spark.streaming.stateful import streaming_running_totals

    q = streaming_running_totals(spark, message_dir, query_name="t_totals")
    try:
        q.processAllAvailable()
        # update mode appends a row per (user, trigger); keep the final one
        rows = spark.sql(
            """
            SELECT user_id, n_events, sum_value, last_ts FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
              FROM t_totals) WHERE rn = 1
            """
        ).collect()
    finally:
        q.stop()
    got = {r.user_id: (r.n_events, round(r.sum_value, 6), r.last_ts) for r in rows}
    batch = (
        _batch_parsed(spark, message_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    )
    want = {r.user_id: (r.n_events, round(r.sum_value, 6), r.last_ts) for r in batch}
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0], u
        assert abs(got[u][1] - want[u][1]) < 1e-6, u
        assert got[u][2] == want[u][2], u


def test_streaming_sliding_equals_batch(spark, message_dir):
    from structured_streaming_cassandra_sink_spark.streaming.pipeline import streaming_sliding

    q = streaming_sliding(spark, message_dir, query_name="t_sliding")
    try:
        q.processAllAvailable()
        got = {
            (r.window_start, r.window_end, r.event_type): (r.n, r.sum_value)
            for r in spark.sql("SELECT * FROM t_sliding").collect()
        }
    finally:
        q.stop()
    batch = (
        _batch_parsed(spark, message_dir)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n", "sum_value",
        )
    )
    want = {
        (r.window_start, r.window_end, r.event_type): (r.n, r.sum_value)
        for r in batch.collect()
    }
    assert got == want


def test_streaming_session_append_with_watermark_close(spark, sf_dir, tmp_path):
    """Append-mode session windows: rows emit only when the watermark
    passes session end. A far-future sentinel event closes everything;
    output (minus the sentinel's own session) must equal the batch
    session aggregation."""
    import datetime

    from structured_streaming_cassandra_sink_spark.streaming.batch_equiv import session_agg
    from structured_streaming_cassandra_sink_spark.streaming.pipeline import streaming_session
    from structured_streaming_cassandra_sink_spark.streaming.sources import events_to_messages

    src = str(tmp_path / "sess_messages")
    events = load_table(spark, "events", sf_dir)
    events_to_messages(events, records_per_message=3).coalesce(2).write.mode(
        "overwrite"
    ).parquet(src)
    # watermark wider than the data span (file replay isn't time-ordered;
    # see streaming_funnel docstring); the sentinel lands beyond
    # watermark + every session end so append mode emits everything
    q = streaming_session(spark, src, query_name="t_session", watermark="45 days")
    try:
        q.processAllAvailable()
        max_ts = events.agg(F.max("ts")).first()[0]
        # wire format requires an offset (TS_FORMAT ...SSSSSSXXX); without
        # it from_json yields null ts and the watermark never advances
        sentinel_ts = (max_ts + datetime.timedelta(days=50)).isoformat() + "Z"
        sentinel = spark.createDataFrame(
            [(
                f'{{"event_id": 999999999, "ts": "{sentinel_ts}", "user_id": -1,'
                f' "event_type": "sentinel", "value": 0.0, "props": null}}',
            )],
            ["value"],
        )
        sentinel.write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {
            (r.user_id, r.session_start, r.session_end): (r.n_events, r.sum_value)
            for r in spark.sql("SELECT * FROM t_session WHERE user_id != -1").collect()
        }
    finally:
        q.stop()
    want = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.sum_value)
        for r in session_agg(events).collect()
    }
    assert got == want


def test_quarantine_routes_bad_records(spark):
    """Malformed / key-missing lines land in quarantine with the raw
    line preserved; good lines parse fully."""
    from structured_streaming_cassandra_sink_spark.streaming.sources import (
        parse_message_stream_with_quarantine,
    )

    msgs = spark.createDataFrame(
        [
            ('{"event_id": 1, "ts": "2024-01-01T00:00:00.000000Z", "user_id": 7,'
             ' "event_type": "click", "value": 1.5, "props": null}\n'
             'not json at all\n'
             '{"event_id": null, "ts": "2024-01-01T00:00:00.000000Z"}',),
            ('{"event_id": 2, "ts": "garbage-ts", "user_id": 8,'
             ' "event_type": "view", "value": 2.0, "props": null}',),
        ],
        ["value"],
    )
    good, quarantine = parse_message_stream_with_quarantine(msgs)
    assert [r.event_id for r in good.collect()] == [1]
    raws = sorted(r.raw for r in quarantine.collect())
    assert len(raws) == 3
    assert "not json at all" in raws[1] or "not json at all" in raws[0] or "not json at all" in raws[2]


def test_epoch_append_sink_replay_idempotent(spark, sf_dir, message_dir, tmp_path):
    """Epoch-partitioned append: stop mid-stream, restart from the
    checkpoint — total rows equal the input exactly (replays overwrite
    their own epoch directory instead of duplicating)."""
    from structured_streaming_cassandra_sink_spark.streaming.sinks import (
        parquet_epoch_append_sink,
        start_to_sink,
    )
    from structured_streaming_cassandra_sink_spark.streaming.sources import (
        file_message_stream,
        parse_message_stream,
    )

    sink_dir = str(tmp_path / "epoch_sink")
    ckpt = str(tmp_path / "epoch_ckpt")

    def run():
        messages = file_message_stream(spark, message_dir, max_files_per_trigger=2)
        parsed = parse_message_stream(messages)
        return start_to_sink(
            parsed,
            parquet_epoch_append_sink(sink_dir),
            ckpt,
            query_name="t_epoch_append",
            output_mode="append",
        )

    q = run()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    q2 = run()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    events = load_table(spark, "events", sf_dir)
    got = spark.read.parquet(sink_dir)
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()


def test_streaming_funnel_equals_batch(spark, sf_dir, message_dir):
    """Stream-stream interval join output == batch funnel pairs."""
    from structured_streaming_cassandra_sink_spark.operators.timeseries import join_interval_funnel
    from structured_streaming_cassandra_sink_spark.streaming.pipeline import streaming_funnel

    # watermark wider than the events table's full time span: the file
    # mirror doesn't replay in event-time order, and a tight watermark
    # would (correctly) evict out-of-order batches — late-data semantics,
    # but fatal for a deterministic stream==batch equality check
    q = streaming_funnel(spark, message_dir, query_name="t_funnel", watermark="60 days")
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.view_id, r.click_id)
            for r in spark.sql("SELECT * FROM t_funnel").collect()
        }
    finally:
        q.stop()
    want = {
        (r.user_id, r.view_id, r.click_id)
        for r in join_interval_funnel(spark, sf_dir).collect()
    }
    assert got == want
    assert len(want) > 0


def test_metrics_listener_captures_progress(spark, sf_dir, message_dir):
    """The listener sees every micro-batch: total input rows across
    batches == messages in the source, and state rows are reported for
    the stateful aggregation."""
    from structured_streaming_cassandra_sink_spark.streaming.monitor import MetricsCollector
    from structured_streaming_cassandra_sink_spark.streaming.pipeline import streaming_tumbling

    collector = MetricsCollector()
    spark.streams.addListener(collector)
    try:
        q = streaming_tumbling(spark, message_dir, query_name="t_metrics")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # listener events are async — wait for the bus to drain
        import time

        deadline = time.time() + 30
        n_msgs = spark.read.parquet(message_dir).count()
        while time.time() < deadline:
            if collector.total_input_rows("t_metrics") >= n_msgs:
                break
            time.sleep(0.5)
        batches = [b for b in collector.batches if b.query_name == "t_metrics"]
        assert collector.total_input_rows("t_metrics") == n_msgs
        assert any(b.state_rows for b in batches), "stateful agg must report state size"
        # every durationMs phase of a batch that read input is kept, and
        # each lies inside its trigger
        fed = [b for b in batches if b.num_input_rows]
        assert fed
        for b in fed:
            for phase in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                          "walCommit", "commitOffsets"):
                assert 0 <= b.phases_ms[phase] <= b.duration_ms, (phase, b.phases_ms)
            assert b.phases_ms["triggerExecution"] == b.duration_ms
            # rates, watermark and state memory of every fed batch
            assert b.processed_rows_per_s > 0
            assert b.input_rows_per_s is None or b.input_rows_per_s >= 0
            assert b.watermark is not None
            assert b.state_memory_bytes > 0
        marks = [b.watermark for b in fed]
        assert marks == sorted(marks), "the event-time watermark never goes back"
    finally:
        spark.streams.removeListener(collector)


def test_available_now_catchup_then_stop(spark, sf_dir, message_dir, tmp_path):
    """Trigger.AvailableNow: drains everything present, terminates on its
    own, and a later continuous run resumes from the same checkpoint
    without reprocessing (end state == batch)."""
    from structured_streaming_cassandra_sink_spark.streaming.sinks import (
        parquet_epoch_append_sink,
        start_to_sink,
    )
    from structured_streaming_cassandra_sink_spark.streaming.sources import (
        file_message_stream,
        parse_message_stream,
    )

    sink_dir = str(tmp_path / "an_sink")
    ckpt = str(tmp_path / "an_ckpt")
    messages = file_message_stream(spark, message_dir, max_files_per_trigger=2)
    parsed = parse_message_stream(messages)
    q = start_to_sink(
        parsed,
        parquet_epoch_append_sink(sink_dir),
        ckpt,
        query_name="t_available_now",
        output_mode="append",
        available_now=True,
    )
    assert q.awaitTermination(120), "AvailableNow query must self-terminate"
    events = load_table(spark, "events", sf_dir)
    assert spark.read.parquet(sink_dir).count() == events.count()
    # resume continuously from the same checkpoint: nothing new to do,
    # state unchanged
    q2 = start_to_sink(
        parsed,
        parquet_epoch_append_sink(sink_dir),
        ckpt,
        query_name="t_available_now_resume",
        output_mode="append",
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert spark.read.parquet(sink_dir).count() == events.count()


def test_rocksdb_state_store_backend(spark, message_dir):
    """The production state backend (RocksDB provider, bundled with
    Spark) runs the watermarked tumbling aggregation and matches the
    batch twin — state semantics are provider-independent."""
    from structured_streaming_cassandra_sink_spark.session import conf_pinned
    from structured_streaming_cassandra_sink_spark.streaming.stateful import (
        ROCKSDB_PROVIDER,
        STATE_STORE_PROVIDER,
    )

    with conf_pinned(spark, STATE_STORE_PROVIDER, ROCKSDB_PROVIDER):
        q = streaming_tumbling(spark, message_dir, query_name="t_rocksdb")
        try:
            q.processAllAvailable()
            got = {
                (r.window_start, r.window_end, r.event_type): (r.n, r.sum_value)
                for r in spark.sql("SELECT * FROM t_rocksdb").collect()
            }
        finally:
            q.stop()
    want = {
        (r.window_start, r.window_end, r.event_type): (r.n, r.sum_value)
        for r in tumbling_agg(_batch_parsed(spark, message_dir)).collect()
    }
    assert got == want


def test_streaming_curation_converges_to_batch(spark, sf_dir, tmp_path):
    """The streaming curation pipeline's corpus == the batch curation
    expressions on the same documents (quality-gated, exact-deduped
    keeping the lowest doc_id per fingerprint)."""
    from structured_streaming_cassandra_sink_spark.streaming.curation_stream import (
        curate,
        docs_to_messages,
        streaming_curation,
    )

    docs = load_table(spark, "documents", sf_dir)
    src = str(tmp_path / "doc_messages")
    docs_to_messages(docs).repartition(3).write.mode("overwrite").parquet(src)
    sink_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "cur_ckpt")
    q = streaming_curation(spark, src, sink_dir, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.fp: (r.doc_id, r.quality)
        for r in spark.read.parquet(sink_dir).collect()
    }
    batch = curate(docs.select("doc_id", "text", "lang", "source"))
    want = {}
    for r in batch.collect():
        if r.fp not in want or r.doc_id < want[r.fp][0]:
            want[r.fp] = (r.doc_id, r.quality)
    assert got == want
    assert len(want) > 0


def test_stream_static_join(spark, sf_dir, message_dir):
    """Stream-static join: the event stream enriched with a static
    dimension (per-type average value, computed batch-side) — output
    equals the batch join. The static side is re-read per micro-batch by
    Structured Streaming; no watermark needed."""
    events_static = load_table(spark, "events", sf_dir)
    dim = events_static.groupBy("event_type").agg(
        F.round(F.avg("value"), 4).alias("type_avg")
    )
    messages = spark.readStream.schema("value string").option(
        "maxFilesPerTrigger", 2
    ).parquet(message_dir)
    enriched = parse_message_stream(messages).join(dim, "event_type").select(
        "event_id", "event_type", "type_avg"
    )
    q = (
        enriched.writeStream.queryName("t_stream_static")
        .outputMode("append")
        .format("memory")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.event_id, r.event_type): r.type_avg
            for r in spark.sql("SELECT * FROM t_stream_static").collect()
        }
    finally:
        q.stop()
    want = {
        (r.event_id, r.event_type): r.type_avg
        for r in events_static.join(dim, "event_type")
        .select("event_id", "event_type", "type_avg")
        .collect()
    }
    assert got == want


def test_watermark_drops_late_data(spark, tmp_path):
    """The positive late-data contract: with a tight watermark, an event
    older than (max seen - delay) arriving in a LATER batch is dropped
    from append-mode aggregation output."""
    import pandas as pd

    src = str(tmp_path / "late_src")

    def write_batch(rows, mode):
        pdf = pd.DataFrame({"value": rows})
        spark.createDataFrame(pdf).coalesce(1).write.mode(mode).parquet(src)

    def ev(eid, ts, v):
        return (
            f'{{"event_id": {eid}, "ts": "{ts}", "user_id": 1,'
            f' "event_type": "x", "value": {v}, "props": null}}'
        )

    # batch 1: events at 10:00 and 12:00 -> watermark advances to 11:50
    write_batch([ev(1, "2024-01-01T10:00:00.000000Z", 1.0)
                 + "\n" + ev(2, "2024-01-01T12:00:00.000000Z", 2.0)], "overwrite")
    messages = spark.readStream.schema("value string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    events = parse_message_stream(messages).withWatermark("ts", "10 minutes")
    agg = (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = agg.writeStream.queryName("t_late").outputMode("append").format("memory").start()
    try:
        q.processAllAvailable()
        # batch 2: a LATE event at 10:30 (behind the 11:50 watermark) and a
        # fresh one at 13:00 to advance time further
        write_batch([ev(3, "2024-01-01T10:30:00.000000Z", 3.0)
                     + "\n" + ev(4, "2024-01-01T13:00:00.000000Z", 4.0)], "append")
        q.processAllAvailable()
        # sentinel far ahead closes every window
        write_batch([ev(5, "2024-01-02T00:00:00.000000Z", 5.0)], "append")
        q.processAllAvailable()
        got = {r.ws: r.n for r in spark.sql("SELECT * FROM t_late").collect()}
    finally:
        q.stop()
    import datetime

    # the 10:00 window holds ONLY event 1 — the late 10:30 event was dropped
    assert got[datetime.datetime(2024, 1, 1, 10, 0)] == 1
    assert got[datetime.datetime(2024, 1, 1, 12, 0)] == 1
    assert got[datetime.datetime(2024, 1, 1, 13, 0)] == 1


def test_stateful_state_survives_restart(spark, sf_dir, tmp_path):
    """applyInPandasWithState accumulators restore from the checkpoint:
    stop after phase 1, deliver phase 2, restart — totals equal the batch
    aggregate over ALL events (a reset would restart phase-1 keys at 0)."""
    from structured_streaming_cassandra_sink_spark.streaming.sources import (
        events_to_messages,
        file_message_stream,
        parse_message_stream,
    )
    from structured_streaming_cassandra_sink_spark.streaming.stateful import running_totals

    events = load_table(spark, "events", sf_dir)
    half = events.agg(F.expr("percentile(event_id, 0.5)")).first()[0]
    phase1 = events.filter(F.col("event_id") <= half)
    phase2 = events.filter(F.col("event_id") > half)
    src = str(tmp_path / "st_src")
    out = str(tmp_path / "st_out")
    ckpt = str(tmp_path / "st_ckpt")
    events_to_messages(phase1).coalesce(1).write.mode("overwrite").parquet(src)

    def run():
        messages = file_message_stream(spark, src, max_files_per_trigger=4)
        totals = running_totals(parse_message_stream(messages))
        return (
            totals.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda df, eid: df.write.mode("append").parquet(out))
            .start()
        )

    q = run()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    events_to_messages(phase2).coalesce(1).write.mode("append").parquet(src)
    q2 = run()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    # last emitted row per user (highest n_events) == batch aggregate
    emitted = spark.read.parquet(out)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = emitted.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    got = {r.user_id: (r.n_events, round(r.sum_value, 6)) for r in final.collect()}
    batch = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    )
    want = {r.user_id: (r.n, round(r.s, 6)) for r in batch.collect()}
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0], u
        assert abs(got[u][1] - want[u][1]) < 1e-6, u


def test_stateful_kill_mid_batch_replay(spark, sf_dir, tmp_path):
    """CHAOS: an epoch that crashes AFTER its tasks ran (output partially
    written, state-store deltas on disk) but BEFORE the batch commit is
    replayed on restart against the PRE-batch state version — per-key
    accumulators neither lose the batch nor double-count it."""
    from structured_streaming_cassandra_sink_spark.streaming.sources import (
        events_to_messages,
        file_message_stream,
        parse_message_stream,
    )
    from structured_streaming_cassandra_sink_spark.streaming.stateful import running_totals

    events = load_table(spark, "events", sf_dir)
    half = events.agg(F.expr("percentile(event_id, 0.5)")).first()[0]
    src = str(tmp_path / "kb_src")
    out = str(tmp_path / "kb_out")
    ckpt = str(tmp_path / "kb_ckpt")
    crash_marker = tmp_path / "kb_crashed_once"
    # two files + maxFilesPerTrigger=1 => two deterministic epochs
    events_to_messages(events.filter(F.col("event_id") <= half)).coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    events_to_messages(events.filter(F.col("event_id") > half)).coalesce(
        1
    ).write.mode("append").parquet(src)

    def sink(df, epoch_id):
        # materialize the batch FIRST (tasks run, state deltas written),
        # then die before Structured Streaming can commit the epoch
        df.write.mode("append").parquet(out)
        if epoch_id >= 1 and not crash_marker.exists():
            crash_marker.touch()
            raise RuntimeError("injected crash mid-epoch")

    def run():
        messages = file_message_stream(spark, src, max_files_per_trigger=1)
        totals = running_totals(parse_message_stream(messages))
        return (
            totals.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .start()
        )

    q = run()
    with pytest.raises(Exception, match="injected crash"):
        try:
            q.processAllAvailable()
            q.awaitTermination()
        finally:
            err = q.exception()
            q.stop()
            if err is not None:
                raise err
    assert crash_marker.exists()

    q2 = run()
    try:
        q2.processAllAvailable()
        assert q2.exception() is None
    finally:
        q2.stop()

    from pyspark.sql import Window

    emitted = spark.read.parquet(out)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = emitted.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    got = {r.user_id: (r.n_events, round(r.sum_value, 6)) for r in final.collect()}
    batch = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    )
    want = {r.user_id: (r.n, round(r.s, 6)) for r in batch.collect()}
    assert set(got) == set(want)
    for u in want:
        # double-count => n too high; lost replay => n too low
        assert got[u][0] == want[u][0], u
        assert abs(got[u][1] - want[u][1]) < 1e-6, u


def test_session_append_evicts_late_data(spark, tmp_path):
    """CHAOS: session_window + watermark in APPEND mode — once the
    watermark passes a session's end the session is emitted and its state
    evicted; a late event inside that session's time range arriving
    afterwards must NOT reopen or grow it."""
    import pandas as pd

    src = str(tmp_path / "sess_src")

    def write_batch(rows, mode):
        pdf = pd.DataFrame({"value": rows})
        spark.createDataFrame(pdf).coalesce(1).write.mode(mode).parquet(src)

    def ev(eid, ts, uid, v):
        return (
            f'{{"event_id": {eid}, "ts": "{ts}", "user_id": {uid},'
            f' "event_type": "x", "value": {v}, "props": null}}'
        )

    from structured_streaming_cassandra_sink_spark.streaming.batch_equiv import (
        SESSION_GAP_MIN,
        session_agg,
    )

    # batch 1: user 1 session {10:00, 10:05} (ends 10:20); fresh event at
    # 12:00 advances the watermark (10 min delay) to 11:50 > 10:20
    write_batch(
        [
            ev(1, "2024-01-01T10:00:00.000000Z", 1, 1.0)
            + "\n"
            + ev(2, "2024-01-01T10:05:00.000000Z", 1, 2.0)
            + "\n"
            + ev(3, "2024-01-01T12:00:00.000000Z", 2, 3.0)
        ],
        "overwrite",
    )
    messages = spark.readStream.schema("value string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    events = parse_message_stream(messages).withWatermark("ts", "10 minutes")
    q = (
        session_agg(events)
        .writeStream.queryName("t_sess_evict")
        .outputMode("append")
        .format("memory")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: LATE event at 10:07 for user 1 — inside the already
        # closed session, behind the watermark => dropped; sentinel at
        # 2024-01-02 closes everything else
        write_batch(
            [
                ev(4, "2024-01-01T10:07:00.000000Z", 1, 100.0)
                + "\n"
                + ev(5, "2024-01-02T00:00:00.000000Z", 2, 4.0)
            ],
            "append",
        )
        q.processAllAvailable()
        write_batch([ev(6, "2024-01-03T00:00:00.000000Z", 2, 5.0)], "append")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM t_sess_evict").collect()
    finally:
        q.stop()

    import datetime

    sessions_u1 = [r for r in rows if r.user_id == 1]
    assert len(sessions_u1) == 1
    s = sessions_u1[0]
    # the late event neither reopened the session nor joined it
    assert s.session_start == datetime.datetime(2024, 1, 1, 10, 0)
    assert s.session_end == datetime.datetime(2024, 1, 1, 10, 5) + datetime.timedelta(
        minutes=SESSION_GAP_MIN
    )
    assert s.n_events == 2
    assert abs(s.sum_value - 3.0) < 1e-9


def test_upsert_sink_crash_recovery(spark, tmp_path):
    """CHAOS: every crash window of parquet_upsert_sink's rename-swap is
    recoverable — the accumulated table survives; a complete __next is
    adopted, an incomplete one discarded."""
    import pathlib

    from structured_streaming_cassandra_sink_spark.streaming.sinks import (
        _recover_upsert_dir,
        parquet_upsert_sink,
    )

    path = str(tmp_path / "state")
    sink = parquet_upsert_sink(path, key="k", order=["v"])
    sink(spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"), 0)
    sink(spark.createDataFrame([(2, 25)], "k int, v int"), 1)
    snap = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert snap == {1: 10, 2: 25}

    # window A: complete __next exists (crash before any rename) — the
    # next epoch must adopt it, not lose it
    spark.read.parquet(path).withColumn(
        "v", F.col("v") + 1
    ).write.mode("overwrite").parquet(path + "__next")
    _recover_upsert_dir(path)
    assert {r.k: r.v for r in spark.read.parquet(path).collect()} == {1: 11, 2: 26}
    assert not pathlib.Path(path + "__next").exists()

    # window B: crash between the two renames (old moved aside, next not
    # yet in place) — recovery must restore a current state
    spark.read.parquet(path).write.mode("overwrite").parquet(path + "__next")
    import os as _os
    _os.rename(path, path + "__old")
    _recover_upsert_dir(path)
    assert {r.k: r.v for r in spark.read.parquet(path).collect()} == {1: 11, 2: 26}
    assert not pathlib.Path(path + "__old").exists()

    # window C: INCOMPLETE __next (crash mid-write: no _SUCCESS) — must be
    # discarded, current state untouched
    pathlib.Path(path + "__next").mkdir()
    (pathlib.Path(path + "__next") / "part-garbage.parquet").write_bytes(b"xx")
    _recover_upsert_dir(path)
    assert {r.k: r.v for r in spark.read.parquet(path).collect()} == {1: 11, 2: 26}
    assert not pathlib.Path(path + "__next").exists()

    # and the sink keeps working after recovery
    sink(spark.createDataFrame([(3, 30)], "k int, v int"), 2)
    assert {r.k: r.v for r in spark.read.parquet(path).collect()} == {
        1: 11, 2: 26, 3: 30,
    }


@pytest.mark.parametrize("which", ["parquet_upsert_sink"])
def test_upsert_sink_schema_drift_raises(spark, tmp_path, which):
    """The state is read with the micro-batch's schema, so a state column
    the batch lacks (or a batch column the state lacks) would vanish
    silently; the first epoch that finds a state compares the column
    names and raises instead, before anything is written."""
    from structured_streaming_cassandra_sink_spark.streaming import sinks

    make = getattr(sinks, which)
    path = str(tmp_path / "drift")
    make(path, key="k", order=["v"])(
        spark.createDataFrame([(1, 10, "a")], "k int, v int, w string"), 0
    )
    for batch in (
        spark.createDataFrame([(1, 11)], "k int, v int"),
        spark.createDataFrame([(1, 11, "b", 1.0)], "k int, v int, w string, x double"),
    ):
        with pytest.raises(ValueError, match="columns"):
            make(path, key="k", order=["v"])(batch, 1)
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [(1, 10, "a")]


def test_upsert_sink_merges_reordered_foreign_state(spark, tmp_path):
    """A pre-existing state written by another writer (pyarrow) in a
    different column order, with a UTC timestamp column, merges by
    column name: updated keys take the batch row, new keys are added,
    untouched keys keep their state row."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from structured_streaming_cassandra_sink_spark.streaming.sinks import parquet_upsert_sink

    utc = dt.timezone.utc
    t = [dt.datetime(2024, 1, 1, h, tzinfo=utc) for h in range(4)]
    path = tmp_path / "state"
    path.mkdir()
    pq.write_table(
        pa.table({
            "name": ["a", "b"],
            "ts": pa.array(t[:2], pa.timestamp("us", tz="UTC")),
            "k": pa.array([1, 2], pa.int64()),
        }),
        str(path / "part-00000.parquet"),
    )
    sink = parquet_upsert_sink(str(path), key="k", order=["ts"])
    batch = spark.createDataFrame(
        [(2, t[3], "b2"), (2, t[0], "b-stale"), (3, t[2], "c")],
        "k long, ts timestamp, name string",
    )
    sink(batch, 0)
    got = {r.k: (r.ts.astimezone(utc), r.name) for r in spark.read.parquet(str(path)).collect()}
    assert got == {1: (t[0], "a"), 2: (t[3], "b2"), 3: (t[2], "c")}


def test_upsert_sink_one_pass_plan(spark, tmp_path):
    """Every epoch over existing state is one pass: at most 2 Spark jobs
    (the shuffle map stage and the write), one Exchange on the key and
    one Sort — no batch-only dedup, no schema-inference job (the first
    such epoch's column check reads a parquet footer), no partial top-1.
    The written state has no dictionary-encoded column chunk."""
    import glob

    import pyarrow.parquet as pq

    from structured_streaming_cassandra_sink_spark.streaming.sinks import (
        _state_merger,
        parquet_upsert_sink,
    )

    sc = spark.sparkContext
    path = str(tmp_path / "one_pass")
    sink = parquet_upsert_sink(path, key="k", order=["v"])

    def batch(e):  # g repeats, so a dictionary-encoding writer would pick it
        return spark.createDataFrame(
            [(i, 10 * e + i, i % 2) for i in range(e, 20)], "k int, v int, g int"
        )

    def jobs_of(epoch):
        group, outer = f"t_upsert_one_pass_{epoch}", sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            sink(batch(epoch), epoch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    sink(batch(0), 0)
    assert 1 <= jobs_of(1) <= 2  # first epoch over a state: the one column check
    assert 1 <= jobs_of(2) <= 2
    assert {r.k: r.v for r in spark.read.parquet(path).collect()} == {
        0: 0, 1: 11, **{i: 20 + i for i in range(2, 20)}
    }
    files = glob.glob(f"{path}/*.parquet")
    assert files
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for i in range(meta.num_row_groups):
            for j in range(meta.num_columns):
                encodings = meta.row_group(i).column(j).encodings
                assert not any(e.endswith("_DICTIONARY") for e in encodings), (f, encodings)

    merged = _state_merger("k", ["v"])(batch(3), path)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning\(k#", plan)) == 1, plan
    assert plan.count("Sort [") == 1, plan
    assert plan.count("Window [") == 1, plan
    assert "WindowGroupLimit" not in plan, plan


def test_rate_limit_bounds_micro_batches(spark, message_dir):
    """Backpressure contract: maxFilesPerTrigger=1 caps every micro-batch
    at one source file's rows — ingest is bounded no matter how large the
    backlog — while the final answer still converges to the batch twin.
    (This is the knob that keeps a restarted stream with days of backlog
    from OOMing its first micro-batch.)"""
    import glob

    import pyarrow.parquet as pq

    from structured_streaming_cassandra_sink_spark.streaming.monitor import MetricsCollector
    from structured_streaming_cassandra_sink_spark.streaming.pipeline import WATERMARK
    from structured_streaming_cassandra_sink_spark.streaming.sources import file_message_stream

    per_file = [
        pq.read_metadata(f).num_rows
        for f in glob.glob(os.path.join(message_dir, "*.parquet"))
    ]
    assert len(per_file) == 4
    max_file_rows = max(per_file)

    collector = MetricsCollector()
    spark.streams.addListener(collector)
    try:
        messages = file_message_stream(spark, message_dir, max_files_per_trigger=1)
        events = parse_message_stream(messages).withWatermark("ts", WATERMARK)
        q = (
            tumbling_agg(events)
            .writeStream.queryName("t_rate_limit")
            .outputMode("complete")
            .format("memory")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                (r.window_start, r.window_end, r.event_type): (r.n, r.sum_value)
                for r in spark.sql("SELECT * FROM t_rate_limit").collect()
            }
        finally:
            q.stop()

        # listener events are async — wait until all input is accounted for
        import time

        total = sum(per_file)
        deadline = time.time() + 30
        while time.time() < deadline:
            if collector.total_input_rows("t_rate_limit") >= total:
                break
            time.sleep(0.5)
        fed = [
            b
            for b in collector.batches
            if b.query_name == "t_rate_limit" and b.num_input_rows > 0
        ]
        assert collector.total_input_rows("t_rate_limit") == total
        # one file per trigger: every micro-batch bounded by the largest
        # file, and it takes at least as many batches as files
        assert all(b.num_input_rows <= max_file_rows for b in fed), [
            b.num_input_rows for b in fed
        ]
        assert len(fed) >= len(per_file)
    finally:
        spark.streams.removeListener(collector)

    want = {
        (r.window_start, r.window_end, r.event_type): (r.n, r.sum_value)
        for r in tumbling_agg(_batch_parsed(spark, message_dir)).collect()
    }
    assert got == want


@pytest.fixture(scope="module")
def timesliced_message_dir(spark, sf_dir, tmp_path_factory):
    """Messages split into 4 files of CONTIGUOUS (ts, event_id) ranges,
    mtime-ordered — the file source replays them as 4 in-order
    micro-batches (the per-partition ordering a keyed Kafka producer
    guarantees), which single-pass sessionization requires."""
    import glob
    import time

    from pyspark.sql import Window

    out = str(tmp_path_factory.mktemp("ts_messages"))
    events = load_table(spark, "events", sf_dir)
    sliced = events.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    )
    for i in range(1, 5):
        part = str(tmp_path_factory.mktemp(f"slice{i}"))
        events_to_messages(sliced.filter(F.col("slice") == i).drop("slice")) \
            .coalesce(1).write.mode("overwrite").parquet(part)
        src = glob.glob(os.path.join(part, "part-*.parquet"))[0]
        dst = os.path.join(out, f"{i:02d}.parquet")
        shutil.copyfile(src, dst)
        os.utime(dst, (time.time() + i, time.time() + i))
    return out


def test_streaming_sessionize_equals_batch(spark, sf_dir, timesliced_message_dir):
    """applyInPandasWithState sessionizer: every event gets the SAME
    session_seq the batch lag()-window twin assigns — state (last ts,
    seq) carries across micro-batch boundaries."""
    from structured_streaming_cassandra_sink_spark.operators.timeseries import sessionize_assign
    from structured_streaming_cassandra_sink_spark.streaming.stateful import streaming_sessionize

    q = streaming_sessionize(spark, timesliced_message_dir, query_name="t_sess")
    try:
        q.processAllAvailable()
        got = {
            r.event_id: (r.user_id, r.session_seq)
            for r in spark.sql("SELECT * FROM t_sess").collect()
        }
    finally:
        q.stop()
    want = {
        r.event_id: (r.user_id, r.session_seq)
        for r in sessionize_assign(spark, sf_dir).collect()
    }
    assert len(got) == len(want)  # append mode: exactly one row per event
    assert got == want


def test_stream_stream_left_outer_emits_null_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join semantics: a view with no click
    emits its null-match row only after the watermark passes the end of
    its join window (before that the engine must hold it — the click
    could still arrive)."""
    import pandas as pd

    src = str(tmp_path / "louter_src")

    def write_batch(rows, mode):
        pdf = pd.DataFrame({"value": rows})
        spark.createDataFrame(pdf).coalesce(1).write.mode(mode).parquet(src)

    def ev(eid, ts, etype, uid):
        return (
            f'{{"event_id": {eid}, "ts": "{ts}", "user_id": {uid},'
            f' "event_type": "{etype}", "value": 1.0, "props": null}}'
        )

    # batch 1: V1 (user 1) gets a click 5 min later; V2 (user 2) never does
    write_batch(
        [
            ev(10, "2024-01-01T10:00:00.000000Z", "view", 1)
            + "\n" + ev(11, "2024-01-01T10:05:00.000000Z", "click", 1)
            + "\n" + ev(20, "2024-01-01T10:00:00.000000Z", "view", 2)
        ],
        "overwrite",
    )
    messages = spark.readStream.schema("value string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    events = parse_message_stream(messages)
    v = (
        events.filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"),
                F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "10 minutes")
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user_id"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 minutes")
    )
    joined = v.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).select("user_id", "view_id", "click_id")
    q = (
        joined.writeStream.queryName("t_louter")
        .outputMode("append").format("memory").start()
    )
    try:
        q.processAllAvailable()
        early = {(r.user_id, r.view_id, r.click_id)
                 for r in spark.sql("SELECT * FROM t_louter").collect()}
        # V2's null row must NOT have been emitted yet: its click window
        # ([10:00, 10:10]) is not past the watermark (10:05 - 10 min)
        assert (2, 20, None) not in early
        # sentinels far ahead push the watermark past every join window.
        # They must advance BOTH sides: the query watermark is the MIN
        # across all withWatermark streams, so a click-only sentinel
        # would leave the view-side watermark (and state eviction) stuck.
        write_batch([ev(99, "2024-01-01T12:00:00.000000Z", "view", 9)
                     + "\n" + ev(98, "2024-01-01T12:00:00.000000Z", "click", 8)], "append")
        q.processAllAvailable()
        write_batch([ev(100, "2024-01-01T14:00:00.000000Z", "view", 9)
                     + "\n" + ev(101, "2024-01-01T14:00:00.000000Z", "click", 8)], "append")
        q.processAllAvailable()
        got = {(r.user_id, r.view_id, r.click_id)
               for r in spark.sql("SELECT * FROM t_louter").collect()}
    finally:
        q.stop()
    assert (1, 10, 11) in got          # matched pair
    assert (2, 20, None) in got        # unmatched view emitted with nulls
    assert (1, 10, None) not in got    # matched view never null-emits


def test_streaming_lsh_refresh_matches_batch_index(spark, sf_dir, tmp_path):
    """Incremental index maintenance: streaming the corpus in two
    micro-batches through the foreachBatch LSH refresher yields an index
    whose probe output is IDENTICAL to a probe of the batch-built
    snapshot index (signatures are a pure map — epoch layout is
    invisible to the probe)."""
    from structured_streaming_cassandra_sink_spark.operators.similarity import (
        N_QUERIES,
        lsh_build,
        lsh_probe,
    )
    from structured_streaming_cassandra_sink_spark.streaming.index_refresh import (
        streaming_lsh_refresh,
    )

    corpus = load_table(spark, "embeddings", sf_dir).filter(
        F.col("vec_id") >= N_QUERIES
    )
    # two deterministic halves, one file each => two micro-batches
    vec_dir = str(tmp_path / "vec_stream")
    corpus.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(vec_dir)
    corpus.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(vec_dir)

    stream_idx = str(tmp_path / "stream_idx")
    q = streaming_lsh_refresh(spark, vec_dir, stream_idx, query_name="t_lshref")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch_idx = lsh_build(spark, sf_dir, index_dir=str(tmp_path / "batch_idx"))
    got = sorted(map(tuple, lsh_probe(spark, sf_dir, index_dir=stream_idx).collect()))
    want = sorted(map(tuple, lsh_probe(spark, sf_dir, index_dir=batch_idx).collect()))
    assert got == want
    assert len(got) > 0


def test_session_close_monitor_gap_and_timeout_eviction(spark, tmp_path):
    """EventTimeTimeout state eviction: sessions closed by a GAP emit
    inline; the final open session emits (and its state evicts) once the
    watermark passes last_event + gap — bounded, finite-lived state."""
    import pandas as pd

    from structured_streaming_cassandra_sink_spark.streaming.stateful import session_close_monitor

    src = str(tmp_path / "sess_close_src")

    def write_batch(rows, mode):
        pdf = pd.DataFrame({"value": rows})
        spark.createDataFrame(pdf).coalesce(1).write.mode(mode).parquet(src)

    def ev(eid, ts, uid):
        return (
            f'{{"event_id": {eid}, "ts": "{ts}", "user_id": {uid},'
            f' "event_type": "x", "value": 1.0, "props": null}}'
        )

    # user 1: session 1 = {10:00, 10:05}, session 2 = {11:00} (gap > 15 min)
    write_batch(
        [
            ev(1, "2024-01-01T10:00:00.000000Z", 1)
            + "\n" + ev(2, "2024-01-01T10:05:00.000000Z", 1)
            + "\n" + ev(3, "2024-01-01T11:00:00.000000Z", 1)
        ],
        "overwrite",
    )
    messages = spark.readStream.schema("value string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    events = parse_message_stream(messages)
    q = (
        session_close_monitor(events)
        .writeStream.queryName("t_sess_close")
        .outputMode("append").format("memory").start()
    )
    try:
        q.processAllAvailable()
        inline = {
            (r.user_id, r.session_seq): r.n_events
            for r in spark.sql("SELECT * FROM t_sess_close").collect()
        }
        # gap-closed session emitted inline; open session NOT emitted yet
        assert inline == {(1, 1): 2}
        # sentinels advance the watermark past 11:00 + 15 min; the
        # timeout fires in the batch AFTER the watermark advances
        write_batch([ev(90, "2024-01-01T13:00:00.000000Z", 99)], "append")
        q.processAllAvailable()
        write_batch([ev(91, "2024-01-01T14:00:00.000000Z", 99)], "append")
        q.processAllAvailable()
        got = {
            (r.user_id, r.session_seq): (r.n_events, r.last_ts)
            for r in spark.sql("SELECT * FROM t_sess_close").collect()
        }
    finally:
        q.stop()
    import datetime

    assert got[(1, 1)] == (2, datetime.datetime(2024, 1, 1, 10, 5))
    assert got[(1, 2)] == (1, datetime.datetime(2024, 1, 1, 11, 0))   # timeout-closed


def test_streaming_redelivery_dedup_exactly_once(spark, sf_dir, timesliced_message_dir, tmp_path):
    """At-least-once -> exactly-once: every message file is delivered
    TWICE (Kafka redelivery after a producer retry / consumer rebalance);
    dropDuplicatesWithinWatermark on event_id must emit each event
    exactly once, so the output equals the batch events table. This is
    the idempotence the reference only gets from the Cassandra PK upsert
    (cassandra_sink.scala:71-79) — here it holds for ANY downstream sink,
    with state bounded by the watermark instead of growing forever."""
    import glob
    import time

    from structured_streaming_cassandra_sink_spark.streaming.sources import (
        file_message_stream,
        parse_message_stream,
    )

    # redeliver: copy each slice file twice, interleaved in mtime order
    src_dir = str(tmp_path / "redelivered")
    os.makedirs(src_dir)
    now = time.time()
    for j, f in enumerate(sorted(glob.glob(os.path.join(timesliced_message_dir, "*.parquet")))):
        for k in (0, 1):
            dst = os.path.join(src_dir, f"{j:02d}_{k}.parquet")
            shutil.copyfile(f, dst)
            os.utime(dst, (now + 2 * j + k,) * 2)

    events = parse_message_stream(file_message_stream(spark, src_dir))
    q = (
        events.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.queryName("t_redeliver")
        .outputMode("append")
        .format("memory")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r.event_id for r in spark.sql("SELECT event_id FROM t_redeliver").collect()}
        n_rows = spark.sql("SELECT count(*) AS n FROM t_redeliver").first().n
    finally:
        q.stop()
    want = {r.event_id for r in load_table(spark, "events", sf_dir).select("event_id").collect()}
    assert n_rows == len(got), "an event_id was emitted more than once"
    assert got == want


def test_streaming_heavy_hitters_mg_guarantee(spark, sf_dir, timesliced_message_dir):
    """Sharded Misra-Gries: after the full stream, every user whose true
    count within their shard exceeds shard_total/(k+1) MUST appear among
    that shard's final candidates, and every reported count_lb must
    lower-bound the true count (MG's two guarantees)."""
    from structured_streaming_cassandra_sink_spark.streaming.stateful import (
        HH_K,
        HH_SHARDS,
        streaming_heavy_hitters,
    )

    q = streaming_heavy_hitters(spark, timesliced_message_dir, query_name="t_hh")
    try:
        q.processAllAvailable()
        # update mode re-emits per trigger: keep each shard's LAST emission
        rows = spark.sql(
            """
            SELECT shard, user_id, count_lb, shard_total FROM (
              SELECT *, max(shard_total) OVER (PARTITION BY shard) AS mx
              FROM t_hh) WHERE shard_total = mx
            """
        ).collect()
    finally:
        q.stop()
    got = {}
    shard_totals = {}
    for r in rows:
        got[(r.shard, r.user_id)] = r.count_lb
        shard_totals[r.shard] = r.shard_total

    truth = (
        load_table(spark, "events", sf_dir)
        .select(F.pmod(F.hash("user_id"), F.lit(HH_SHARDS)).alias("shard"), "user_id")
        .groupBy("shard", "user_id")
        .count()
        .collect()
    )
    true_counts = {(r.shard, r.user_id): r["count"] for r in truth}
    true_totals = {}
    for (s, _), c in true_counts.items():
        true_totals[s] = true_totals.get(s, 0) + c
    assert shard_totals == true_totals
    for (s, u), c in true_counts.items():
        if c > true_totals[s] / (HH_K + 1):
            assert (s, u) in got, f"guaranteed heavy hitter missing: shard {s} user {u}"
    for (s, u), lb in got.items():
        assert lb <= true_counts.get((s, u), 0), (s, u)


# ---------------------------------------------------------------------------
# Custom Python DataSource (Spark 4 pyspark.sql.datasource API)
# ---------------------------------------------------------------------------
def test_pysource_batch_partitioned_and_deterministic(spark):
    """Batch read through the custom DataSource: rows arrive across the
    declared partition count and equal the pure-function ground truth
    (the retry/speculation replay contract)."""
    from structured_streaming_cassandra_sink_spark.sources.pysource import (
        expected_rows,
        register_synthetic_events,
    )

    register_synthetic_events(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 300)
        .option("partitions", 3)
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    assert sorted(map(tuple, df.collect())) == sorted(expected_rows(300))


def test_pysource_stream_drains_exactly_once(spark):
    """Streaming read: offset-ranged micro-batches drain the bounded
    source with every row exactly once, across multiple triggers."""
    from structured_streaming_cassandra_sink_spark.sources.pysource import (
        expected_rows,
        register_synthetic_events,
    )

    register_synthetic_events(spark)
    q = (
        spark.readStream.format("synthetic_events")
        .option("rows", 250)
        .option("rowsPerTrigger", 80)
        .load()
        .writeStream.format("memory")
        .queryName("t_pysource")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(map(tuple, spark.sql("SELECT * FROM t_pysource").collect()))
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    finally:
        q.stop()
    assert got == sorted(expected_rows(250))
    assert n_batches >= 3  # 250 rows / 80 per trigger => at least 4 non-empty


def test_pysource_stream_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Kill the custom-source stream mid-way, restart from the
    checkpoint: the union of both runs is every row exactly once (the
    offset log replays the pending range; the pure-function generator
    makes the replayed rows identical)."""
    from structured_streaming_cassandra_sink_spark.sources.pysource import (
        expected_rows,
        register_synthetic_events,
    )

    register_synthetic_events(spark)
    ckpt = str(tmp_path / "pysrc_ckpt")
    sink = str(tmp_path / "pysrc_sink")

    def start():
        return (
            spark.readStream.format("synthetic_events")
            .option("rows", 240)
            .option("rowsPerTrigger", 60)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        # stop after the first non-empty batch commits
        import time

        for _ in range(100):
            if any(p["numInputRows"] > 0 for p in q.recentProgress):
                break
            time.sleep(0.2)
    finally:
        q.stop()
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    assert got == sorted(expected_rows(240))


def test_transform_with_state_topk_equals_batch(spark, sf_dir, message_dir):
    """transformWithStateInPandas ListState top-k: after the full
    stream, each user's final emitted top-3 equals the batch
    row_number() top-3 (value DESC, event_id ASC ties)."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="TWS driver worker needs protobuf (absent in this container; "
        "operator is gated like the Cassandra connector)",
    )
    from pyspark.sql import Window

    from structured_streaming_cassandra_sink_spark.streaming.stateful import (
        TWS_TOPK,
        streaming_topk_events,
    )

    q = streaming_topk_events(spark, message_dir, query_name="t_twstopk")
    try:
        q.processAllAvailable()
        # update mode: keep each user's LAST emission = rows whose rnk-1
        # set matches the max emission; simplest: latest per (user, rnk)
        # is the one with the highest value set — recompute per user from
        # the final state by taking the last batch's rows: use row_number
        # over an arrival marker. The memory sink has no arrival order
        # column, so instead assert against the UNION's best rows: the
        # final top-k rows are the global best-k of everything emitted.
        emitted = spark.sql("SELECT user_id, value, event_id FROM t_twstopk").collect()
    finally:
        q.stop()
    best = {}
    for r in emitted:
        best.setdefault(r.user_id, set()).add((r.value, r.event_id))
    got = {
        u: sorted(vs, key=lambda t: (-t[0], t[1]))[:TWS_TOPK]
        for u, vs in best.items()
    }
    events = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    want_rows = (
        events.select("user_id", "value", "event_id")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TWS_TOPK)
        .collect()
    )
    want = {}
    for r in want_rows:
        want.setdefault(r.user_id, []).append((r.value, r.event_id))
    assert set(got) == set(want)
    for u in want:
        assert got[u] == want[u], u


def test_pysource_restart_after_full_drain_and_growth(spark, tmp_path):
    """The committed-restart case the in-memory cursor is most exposed
    to: drain the stream fully, restart against a GROWN source — no row
    re-emits (the engine never accepts a backward offset range) and the
    new rows all arrive."""
    from structured_streaming_cassandra_sink_spark.sources.pysource import (
        expected_rows,
        register_synthetic_events,
    )

    register_synthetic_events(spark)
    ckpt = str(tmp_path / "ck")
    sink = str(tmp_path / "out")

    def start(rows):
        return (
            spark.readStream.format("synthetic_events")
            .option("rows", rows)
            .option("rowsPerTrigger", 60)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start(240)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    q2 = start(360)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    assert got == sorted(expected_rows(360))


def test_session_close_late_group_does_not_kill_query(spark, tmp_path):
    """Late-row semantics of the session monitor, pinned: an event older
    than the current watermark is FILTERED before the stateful function
    (Spark's EventTimeTimeout contract), so it can neither create a
    stale session nor produce a below-watermark setTimeoutTimestamp —
    the query stays alive and the late group simply never appears. The
    clamp in _session_close (max(watermark+1, last+gap)) stays as
    defense-in-depth for timeout modes without the pre-filter."""
    import pandas as pd

    from structured_streaming_cassandra_sink_spark.streaming.sources import parse_message_stream
    from structured_streaming_cassandra_sink_spark.streaming.stateful import session_close_monitor

    src = str(tmp_path / "late_group_src")

    def write_batch(rows, mode):
        pdf = pd.DataFrame({"value": rows})
        spark.createDataFrame(pdf).coalesce(1).write.mode(mode).parquet(src)

    def ev(eid, ts, uid):
        return (
            f'{{"event_id": {eid}, "ts": "{ts}", "user_id": {uid},'
            f' "event_type": "x", "value": 1.0, "props": null}}'
        )

    # batch 1: user 1 at 12:00 -> watermark advances toward 11:59
    write_batch([ev(1, "2024-01-01T12:00:00.000000Z", 1)], "overwrite")
    messages = spark.readStream.schema("value string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        session_close_monitor(parse_message_stream(messages))
        .writeStream.queryName("t_late_group")
        .outputMode("append").format("memory").start()
    )
    try:
        q.processAllAvailable()
        # batch 2: user 2's ONLY event at 09:00 — older than the ~11:59
        # watermark, so the engine drops it before the state function
        write_batch([ev(2, "2024-01-01T09:00:00.000000Z", 2)], "append")
        q.processAllAvailable()
        assert q.isActive, str(q.exception())
        # sentinels: advance the watermark and fire user 1's timeout
        write_batch([ev(3, "2024-01-01T13:00:00.000000Z", 99)], "append")
        q.processAllAvailable()
        write_batch([ev(4, "2024-01-01T14:00:00.000000Z", 99)], "append")
        q.processAllAvailable()
        assert q.isActive, str(q.exception())
        got = {
            (r.user_id, r.session_seq): r.n_events
            for r in spark.sql("SELECT * FROM t_late_group").collect()
        }
    finally:
        q.stop()
    assert got[(1, 1)] == 1          # on-time session closes by timeout
    assert not any(u == 2 for u, _ in got)  # late group filtered, no state


def test_session_close_returning_user_identity_unique(spark, tmp_path):
    """After idle-timeout eviction, a returning user's session_seq
    restarts (bounded state has no memory of evicted counters) — but
    (user_id, session_start) stays unique across the whole stream, so
    summaries never collide in an upsert sink keyed on it."""
    import pandas as pd

    from structured_streaming_cassandra_sink_spark.streaming.stateful import session_close_monitor

    src = str(tmp_path / "sess_return_src")

    def write_batch(rows, mode):
        pdf = pd.DataFrame({"value": rows})
        spark.createDataFrame(pdf).coalesce(1).write.mode(mode).parquet(src)

    def ev(eid, ts, uid):
        return (
            f'{{"event_id": {eid}, "ts": "{ts}", "user_id": {uid},'
            f' "event_type": "x", "value": 1.0, "props": null}}'
        )

    write_batch([ev(1, "2024-01-01T10:00:00.000000Z", 7)], "overwrite")
    messages = spark.readStream.schema("value string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        session_close_monitor(parse_message_stream(messages))
        .writeStream.queryName("t_sess_return")
        .outputMode("append").format("memory").start()
    )
    try:
        q.processAllAvailable()
        # advance watermark far past 10:00+gap -> user 7's state evicts
        write_batch([ev(50, "2024-01-01T12:00:00.000000Z", 99)], "append")
        q.processAllAvailable()
        write_batch([ev(51, "2024-01-01T13:00:00.000000Z", 99)], "append")
        q.processAllAvailable()
        # user 7 RETURNS; then advance watermark to close + evict again
        write_batch([ev(2, "2024-01-01T14:00:00.000000Z", 7)], "append")
        q.processAllAvailable()
        write_batch([ev(52, "2024-01-01T16:00:00.000000Z", 99)], "append")
        q.processAllAvailable()
        write_batch([ev(53, "2024-01-01T17:00:00.000000Z", 99)], "append")
        q.processAllAvailable()
        rows = [
            r
            for r in spark.sql("SELECT * FROM t_sess_return").collect()
            if r.user_id == 7
        ]
        assert len(rows) == 2
        # seq restarts after eviction (documented contract)...
        assert sorted(r.session_seq for r in rows) == [1, 1]
        # ...but the durable identity does not collide
        starts = {r.session_start for r in rows}
        assert len(starts) == 2
        assert all(r.n_events == 1 for r in rows)
    finally:
        q.stop()


def test_stateful_ops_survive_malformed_record(spark, tmp_path):
    """A malformed wire line (null from_json row) must be dropped by the
    stateful operators' require_keys guard, not crash the query."""
    import pandas as pd

    from structured_streaming_cassandra_sink_spark.streaming.stateful import sessionize_events

    src = str(tmp_path / "poison_src")
    good = (
        '{"event_id": 1, "ts": "2024-01-01T10:00:00.000000Z", "user_id": 3,'
        ' "event_type": "x", "value": 1.0, "props": null}'
    )
    pdf = pd.DataFrame({"value": [good + "\nTHIS IS NOT JSON\n" + good.replace('"event_id": 1', '"event_id": 2')]})
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)
    messages = spark.readStream.schema("value string").parquet(src)
    q = (
        sessionize_events(parse_message_stream(messages))
        .writeStream.queryName("t_poison")
        .outputMode("append").format("memory").start()
    )
    try:
        q.processAllAvailable()
        assert q.exception() is None
        rows = spark.sql("SELECT * FROM t_poison").collect()
        assert sorted(r.event_id for r in rows) == [1, 2]
        assert all(r.user_id == 3 and r.session_seq == 1 for r in rows)
    finally:
        q.stop()


def test_streaming_tumbling_distinct_within_hll_band(spark, message_dir):
    """Streaming approx distinct per (window, type) lands within the
    HLL++ default-rsd band (5% at 3 sigma-ish) of the batch EXACT
    count, for every window — the streamable form of the cardinality
    rollup is quantitatively honest, not just row-shaped."""
    from structured_streaming_cassandra_sink_spark.streaming.batch_equiv import (
        tumbling_distinct_agg,
    )
    from structured_streaming_cassandra_sink_spark.streaming.pipeline import (
        streaming_tumbling_distinct,
    )

    q = streaming_tumbling_distinct(spark, message_dir, query_name="t_tdist")
    try:
        q.processAllAvailable()
        got = {
            (r.window_start, r.window_end, r.event_type): r.users
            for r in spark.sql("SELECT * FROM t_tdist").collect()
        }
    finally:
        q.stop()
    want = {
        (r.window_start, r.window_end, r.event_type): r.users
        for r in tumbling_distinct_agg(_batch_parsed(spark, message_dir)).collect()
    }
    assert set(got) == set(want)
    for k, exact in want.items():
        assert abs(got[k] - exact) <= max(2, 0.15 * exact), (k, got[k], exact)


def test_streaming_enrich_static_equals_batch(spark, sf_dir, message_dir):
    """Stream-static enrichment through the SHARED expression
    (batch_equiv.enrich_static_agg): the driver-visible
    `stream_enrich_static` query and this streaming twin use one
    definition, so the pinned equality can't drift through a hand-synced
    copy. Complete mode (finite replay can't advance the watermark)."""
    from structured_streaming_cassandra_sink_spark.streaming.batch_equiv import (
        customer_segment_dim,
        enrich_static_agg,
    )
    from structured_streaming_cassandra_sink_spark.streaming.sources import (
        file_message_stream,
        parse_message_stream,
    )

    dim = customer_segment_dim(spark, sf_dir)
    stream_events = parse_message_stream(file_message_stream(spark, message_dir))
    q = (
        enrich_static_agg(stream_events, dim)
        .writeStream.queryName("t_enrich_static")
        .outputMode("complete")
        .format("memory")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.window_start, r.window_end, r.segment): (r.n, r.sum_value)
            for r in spark.sql("SELECT * FROM t_enrich_static").collect()
        }
    finally:
        q.stop()
    want = {
        (r.window_start, r.window_end, r.segment): (r.n, r.sum_value)
        for r in enrich_static_agg(_batch_parsed(spark, message_dir), dim).collect()
    }
    assert got == want


def test_transform_with_state_matches_batch_and_old_api(spark, message_dir):
    """Spark 4.x StatefulProcessor (transformWithStateInPandas) running
    totals: end state equals the batch groupBy aggregate — the same
    contract the applyInPandasWithState form pins above, so the two
    stateful APIs are interchangeable."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="TWS driver worker needs protobuf (absent in this container; "
        "operator is gated like the Cassandra connector)",
    )
    from structured_streaming_cassandra_sink_spark.streaming.stateful import (
        streaming_running_totals_tws,
    )

    q = streaming_running_totals_tws(spark, message_dir, query_name="t_totals_tws")
    try:
        q.processAllAvailable()
        rows = spark.sql(
            """
            SELECT user_id, n_events, sum_value, last_ts FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
              FROM t_totals_tws) WHERE rn = 1
            """
        ).collect()
    finally:
        q.stop()
    got = {r.user_id: (r.n_events, round(r.sum_value, 6), r.last_ts) for r in rows}
    batch = (
        _batch_parsed(spark, message_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    )
    want = {r.user_id: (r.n_events, round(r.sum_value, 6), r.last_ts) for r in batch}
    assert got == {
        u: (w[0], w[1], w[2]) for u, w in want.items()
    } or all(
        got[u][0] == want[u][0]
        and abs(got[u][1] - want[u][1]) < 1e-6
        and got[u][2] == want[u][2]
        for u in want
    )
    assert set(got) == set(want)


# ---------------------------------------------------------------------------
# r9: bounded-watermark funnel join — state eviction + expiry strictness
# ---------------------------------------------------------------------------


def test_funnel_join_state_evicted(spark, sf_dir, tmp_path):
    """r8 verdict #3: the inner stream-stream funnel join must run with a
    BOUNDED watermark and demonstrably EVICT join state between
    micro-batches — the r8 row's 3650-day watermark retained all state
    forever, the one configuration that cannot scale. Over the
    event-time-ordered mirror the bounded build must (a) emit exactly
    the batch interval-join matched set, and (b) report state rows
    removed in the streaming progress, with terminal state far below
    the total row count."""
    import json
    import os

    from structured_streaming_cassandra_sink_spark.session import conf_pinned
    from structured_streaming_cassandra_sink_spark.sources import load_table
    from structured_streaming_cassandra_sink_spark.streaming.pipeline import funnel_join
    from structured_streaming_cassandra_sink_spark.streaming.sinks import (
        parquet_epoch_append_sink,
        start_to_sink,
    )
    from structured_streaming_cassandra_sink_spark.streaming.sources import (
        file_message_stream,
    )
    from structured_streaming_cassandra_sink_spark.streaming.stream_rows import (
        FUNNEL_JOIN_WM,
        _write_ordered_chunks,
    )

    events = load_table(spark, "events", sf_dir)
    with conf_pinned(spark, "spark.sql.session.timeZone", "UTC"):
        msg = str(tmp_path / "messages")
        sink = str(tmp_path / "table")
        ck = str(tmp_path / "ck")
        _write_ordered_chunks(events, msg)
        j = funnel_join(
            parse_message_stream(file_message_stream(spark, msg)), FUNNEL_JOIN_WM, "inner"
        )
        q = start_to_sink(
            j,
            parquet_epoch_append_sink(sink),
            ck,
            query_name="t_funnel_evict",
            output_mode="append",
            available_now=True,
        )
        q.awaitTermination()
        # PySpark 4 returns StreamingQueryProgress objects; .json is the
        # stable serialized form
        progresses = [json.loads(p.json) for p in q.recentProgress]

    # (a) converged sink == batch interval join over the same events
    got = {
        (r.user_id, r.view_id, r.click_id)
        for r in spark.read.parquet(sink).collect()
    }
    v = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("vts")
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    want = {
        (r.user_id, r.view_id, r.click_id)
        for r in v.join(
            c,
            (F.col("user_id") == F.col("cu"))
            & (F.col("cts") > F.col("vts"))
            & (F.col("cts") <= F.col("vts") + F.expr("INTERVAL 10 MINUTES")),
        ).collect()
    }
    assert got == want and got

    # (b) the join state store actually evicted rows as the watermark
    # advanced (strictly positive removals), and the terminal state holds
    # only ~(watermark delay + interval) of events, not the whole stream
    ops = [p["stateOperators"][0] for p in progresses if p.get("stateOperators")]
    assert ops, "no stateOperators progress recorded"
    removed = sum(o.get("numRowsRemoved", 0) for o in ops)
    assert removed > 0, "bounded watermark never evicted join state"
    total_in = events.count()
    final_state = ops[-1]["numRowsTotal"]
    assert final_state < total_in / 2, (final_state, total_in)


def test_left_join_expiry_boundary_is_strict(spark, tmp_path):
    """Pins the engine behavior the stream_stream_left_join_expiry
    oracle's STRICT `<` mirrors (ADVICE r8): a view whose state expiry
    (view_ts + 10 min) lands EXACTLY on the terminal watermark is NOT
    null-emitted (Spark removes/emits outer state on ts < threshold,
    strictly), while a view strictly below it IS. Previously this edge
    was unobservable only because the testdata carries random
    microseconds; this test makes the boundary an engine contract, so a
    future second-granular generator cannot silently flip one row
    between engines."""
    from structured_streaming_cassandra_sink_spark.session import conf_pinned
    from structured_streaming_cassandra_sink_spark.streaming.pipeline import funnel_join
    from structured_streaming_cassandra_sink_spark.streaming.sinks import (
        parquet_epoch_append_sink,
        start_to_sink,
    )
    from structured_streaming_cassandra_sink_spark.streaming.sources import (
        file_message_stream,
    )
    from structured_streaming_cassandra_sink_spark.streaming.stream_rows import (
        _write_ordered_chunks,
    )

    rows = [
        # expiry 10:09:59 <  terminal wm 10:10:00 -> MUST null-emit
        (1, "2024-01-01 09:59:59", 1, "view", 1.0, None),
        # expiry 10:10:00 == terminal wm 10:10:00 -> must NOT emit
        (2, "2024-01-01 10:00:00", 2, "view", 1.0, None),
        # both sides' terminal max = 10:10:00 (global wm = min of sides)
        (3, "2024-01-01 10:10:00", 3, "view", 1.0, None),
        (4, "2024-01-01 10:10:00", 4, "click", 1.0, None),
    ]
    with conf_pinned(spark, "spark.sql.session.timeZone", "UTC"):
        ev = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        msg = str(tmp_path / "messages")
        sink = str(tmp_path / "table")
        ck = str(tmp_path / "ck")
        _write_ordered_chunks(ev, msg)
        j = funnel_join(
            parse_message_stream(file_message_stream(spark, msg)), "0 seconds", "leftOuter"
        )
        q = start_to_sink(
            j,
            parquet_epoch_append_sink(sink),
            ck,
            query_name="t_expiry_boundary",
            output_mode="append",
            available_now=True,
        )
        q.awaitTermination()
    emitted = {
        r.view_id for r in spark.read.parquet(sink).collect()
    }
    assert 1 in emitted, "strictly-expired view must null-emit"
    assert 2 not in emitted, (
        "expiry == terminal watermark emitted: Spark's comparison is not"
        " strict; realign the stream_stream_left_join_expiry oracle"
    )
    assert 3 not in emitted  # unexpired tail stays in state


# ---------------------------------------------------------------------------
# r9: transformWithStateInPandas processors, pinned PROTOBUF-FREE
# (r8 verdict #5 — same move as the Cassandra adapter-mapping test: the
# gated API surface's LOGIC is covered even while the runtime dependency
# is absent, so it can't rot between environments that have protobuf)
# ---------------------------------------------------------------------------


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def clear(self):
        self._v = None


class _FakeListState:
    def __init__(self):
        self._rows = []

    def get(self):
        from collections import namedtuple

        Row = namedtuple("Row", ["value", "event_id"])
        return iter([Row(*r) for r in self._rows])

    def appendList(self, rows):
        self._rows.extend(tuple(r) for r in rows)

    def clear(self):
        self._rows = []


class _FakeHandle:
    """Duck-typed StatefulProcessorHandle: getValueState/getListState
    return in-memory states keyed by name — the exact call surface the
    processors use (schema strings accepted and ignored)."""

    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())

    def getListState(self, name, schema):
        return self.states.setdefault(name, _FakeListState())


def test_tws_topk_processor_contract_protobuf_free():
    """TopKEventsProcessor emission contract without the TWS runtime:
    across THREE handleInputRows calls (state carried in ListState
    between them) the final emission is the global top-K by value desc
    with event_id-asc tie-breaks, rnk 1..K — equal to the brute-force
    computation over every row ever fed."""
    import pandas as pd

    from structured_streaming_cassandra_sink_spark.streaming.stateful import (
        TWS_TOPK,
        TopKEventsProcessor,
    )

    proc = TopKEventsProcessor()
    proc.init(_FakeHandle())
    batches = [
        pd.DataFrame({"value": [5.0, 1.0, 3.0], "event_id": [10, 11, 12]}),
        pd.DataFrame({"value": [4.0, 5.0], "event_id": [13, 2]}),  # value tie
        pd.DataFrame({"value": [0.5, 9.0], "event_id": [14, 15]}),
    ]
    outs = [
        list(proc.handleInputRows((7,), iter([b]), None))[-1] for b in batches
    ]
    final = outs[-1]
    allrows = pd.concat(batches)
    want = sorted(
        zip(allrows["value"], allrows["event_id"]), key=lambda t: (-t[0], t[1])
    )[:TWS_TOPK]
    assert list(final["user_id"]) == [7] * TWS_TOPK
    assert list(zip(final["value"], final["event_id"])) == want
    assert list(final["rnk"]) == [1, 2, 3]
    # the value tie (5.0 at event 10 vs event 2) broke toward the SMALLER
    # event_id first — deterministic re-run stability
    assert want[0] == (9.0, 15) and want[1] == (5.0, 2) and want[2] == (5.0, 10)
    # intermediate emission after batch 1 was that batch's own top-3
    assert list(zip(outs[0]["value"], outs[0]["event_id"])) == [
        (5.0, 10),
        (3.0, 12),
        (1.0, 11),
    ]


def test_tws_running_totals_processor_contract_protobuf_free():
    """RunningTotalsProcessor (ValueState) accumulates n/sum/last_ts
    across calls and emits the running aggregate each time — the same
    recurrence the applyInPandasWithState form and the batch groupBy
    compute, pinned without the protobuf runtime."""
    import pandas as pd

    from structured_streaming_cassandra_sink_spark.streaming.stateful import (
        RunningTotalsProcessor,
    )

    proc = RunningTotalsProcessor()
    proc.init(_FakeHandle())
    b1 = pd.DataFrame(
        {
            "value": [1.5, 2.5],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00:00.000001", "2024-01-01 09:00:00.000000"]
            ),
        }
    )
    b2 = pd.DataFrame(
        {"value": [4.0], "ts": pd.to_datetime(["2024-01-01 12:30:00.999999"])}
    )
    o1 = list(proc.handleInputRows((42,), iter([b1]), None))[-1]
    assert (
        int(o1["user_id"][0]),
        int(o1["n_events"][0]),
        float(o1["sum_value"][0]),
        o1["last_ts"][0],
    ) == (42, 2, 4.0, pd.Timestamp("2024-01-01 10:00:00.000001"))
    o2 = list(proc.handleInputRows((42,), iter([b2]), None))[-1]
    assert (
        int(o2["n_events"][0]),
        float(o2["sum_value"][0]),
        o2["last_ts"][0],
    ) == (3, 8.0, pd.Timestamp("2024-01-01 12:30:00.999999"))


def test_conf_pinned_restores_set_and_unsets_unset(spark):
    """The one conf pin puts the session back as it found it: a key that
    was set gets its value back, a key that was unset is unset again,
    and both hold when the body raises."""
    from structured_streaming_cassandra_sink_spark.session import conf_pinned

    set_key, unset_key = "spark.sql.session.timeZone", "spark.graft.test.pinned"
    before = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None

    with conf_pinned(spark, set_key, "America/New_York"):
        assert spark.conf.get(set_key) == "America/New_York"
    assert spark.conf.get(set_key) == before

    with conf_pinned(spark, unset_key, "on"):
        assert spark.conf.get(unset_key) == "on"
    assert spark.conf.get(unset_key, None) is None

    with pytest.raises(RuntimeError, match="body failed"):
        with conf_pinned(spark, set_key, "America/New_York"), conf_pinned(
            spark, unset_key, "on"
        ):
            raise RuntimeError("body failed")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None


def test_stream_harness_has_one_starter_one_pin_one_encoder():
    """Every stream in streaming/ is started by sinks.py, pins confs only
    through session.conf_pinned, and is packed by the one encoder
    (sources.events_to_messages)."""
    import structured_streaming_cassandra_sink_spark.streaming as streaming

    root = os.path.dirname(streaming.__file__)
    found: dict[str, set[str]] = {}
    for n in sorted(os.listdir(root)):
        if n.endswith(".py"):
            text = open(os.path.join(root, n)).read()
            for token in ("writeStream", "conf.set(", "conf.unset(", "to_json("):
                if token in text:
                    found.setdefault(token, set()).add(n)
    assert found.get("writeStream") == {"sinks.py"}
    assert "conf.set(" not in found and "conf.unset(" not in found
    assert found.get("to_json(") == {"sources.py"}
    assert open(os.path.join(root, "sources.py")).read().count("to_json(") == 1
