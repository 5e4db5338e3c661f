"""Streaming twin of the flagship pipeline + watermarked windowed aggs.

The full reference pipeline (cassandra_sink.scala:82-130), PySpark-native:
source (Kafka or file mirror) -> parse chain -> derived columns -> filter
-> upsert-by-key sink via foreachBatch. The transformation code is SHARED
with the batch flagship (plans/flagship.py) — one expression tree, two
execution modes, which is how the engine guarantees stream/batch
equivalence (tested in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.flagship import transform_events
from .batch_equiv import session_agg, sliding_agg, tumbling_agg, tumbling_distinct_agg
from .sinks import parquet_upsert_sink, start_to_memory, start_to_sink
from .sources import file_message_stream, parse_message_stream

WATERMARK = "10 minutes"


def streaming_flagship(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """End-to-end streaming pipeline on the file mirror source.

    Dedup note: the batch flagship dedups with a window function, which
    streaming can't incrementally run. Here the per-batch latest-per-key
    happens INSIDE the sink's upsert (exactly how the reference gets its
    dedup — from the Cassandra PK, not from Spark), so the sink's end
    state converges to the batch flagship result.
    """
    messages = file_message_stream(spark, source_dir, max_files_per_trigger)
    events = parse_message_stream(messages)
    parsed = transform_events(events)
    sink = parquet_upsert_sink(sink_dir, key="user_id", order=["ts", "event_id"])
    return start_to_sink(parsed, sink, checkpoint_dir, query_name="StreamingFlagship")


def streaming_tumbling(spark: SparkSession, source_dir: str, query_name: str = "TumblingAgg"):
    """Watermarked 1-hour tumbling aggregation to an in-memory sink
    (complete mode: finite test data can't advance the watermark past the
    last windows; complete emits them all — equivalence with the batch
    tumbling_agg is exact)."""
    events = parse_message_stream(file_message_stream(spark, source_dir))
    agg = tumbling_agg(events.withWatermark("ts", WATERMARK))
    return start_to_memory(agg, query_name, "complete")


def streaming_tumbling_update_upsert(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    query_name: str = "TumblingUpdateUpsert",
    watermark: str = WATERMARK,
):
    """UPDATE-mode windowed aggregation through the upsert-by-key sink —
    the reference's exact operating shape (cassandra_sink.scala:125:
    ``outputMode("update")`` into a Cassandra PK table): each micro-batch
    emits only the windows that CHANGED, and the sink's upsert makes the
    end state converge to the full aggregate. This is the mode that
    scales: complete re-emits every window every batch (state ∝ all
    history), update re-emits O(windows touched per batch).

    Upsert key is (window_start, event_type) — the Cassandra PK analogue
    — serialized into one ``wkey`` column; merge order is ``n``, valid
    because a window's count only grows across its successive update
    emissions (monotone version stamp). ``watermark`` is parameterized
    for the same reason as streaming_funnel: equality tests must set it
    wider than the data span because the file mirror replays out of
    event-time order."""
    events = parse_message_stream(file_message_stream(spark, source_dir))
    agg = tumbling_agg(events.withWatermark("ts", watermark)).withColumn(
        "wkey",
        F.concat_ws("|", F.col("window_start").cast("string"), F.col("event_type")),
    )
    sink = parquet_upsert_sink(sink_dir, key="wkey", order=["n"])
    return start_to_sink(
        agg, sink, checkpoint_dir, query_name=query_name, output_mode="update"
    )


def streaming_sliding(spark: SparkSession, source_dir: str, query_name: str = "SlidingAgg"):
    """1-hour windows sliding every 30 min (each event in exactly 2
    windows via Spark's Expand) — complete mode, same rationale as
    streaming_tumbling."""
    events = parse_message_stream(file_message_stream(spark, source_dir))
    agg = sliding_agg(events.withWatermark("ts", WATERMARK))
    return start_to_memory(agg, query_name, "complete")


def streaming_session(
    spark: SparkSession,
    source_dir: str,
    query_name: str = "SessionAgg",
    watermark: str = WATERMARK,
):
    """Session windows (15-min gap) in APPEND mode: a session row emits
    only once the watermark passes its end — the real late-data contract.
    Tests close the final sessions by appending a far-future sentinel
    event that advances the watermark (finite data never advances it past
    its own tail otherwise), and set ``watermark`` wider than the data's
    time span because the file mirror doesn't replay in event-time order
    (see streaming_funnel)."""
    events = parse_message_stream(file_message_stream(spark, source_dir))
    agg = session_agg(events.withWatermark("ts", watermark))
    return start_to_memory(agg, query_name, "append")


def funnel_join(events: DataFrame, watermark: str, how: str = "inner") -> DataFrame:
    """The one funnel stream-stream join: the parsed event stream split
    into a views side and a clicks side (a streaming self-join), each
    carrying its own ``watermark``, joined on the equi key (user_id)
    plus the bounded time condition click in (view_ts, view_ts +
    FUNNEL_WINDOW_MIN min]. Both sides carry watermarks and the
    condition time-bounds the match window, so each side's state store
    holds only watermark + FUNNEL_WINDOW_MIN of rows — the condition
    that makes an unbounded stream-stream join finite. ``how`` is
    ``"inner"`` or ``"leftOuter"``. The payload is exact-integer: dm_us
    = click micros - view micros (int64), for readers that divide it
    back to minutes."""
    from ..functions import ts_micros
    from ..operators.timeseries import FUNNEL_WINDOW_MIN

    v = (
        events.filter(F.col("event_type") == "view")
        .select(
            "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
        )
        .withWatermark("view_ts", watermark)
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    return v.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {FUNNEL_WINDOW_MIN} MINUTES")
        ),
        how,
    ).select(
        "user_id",
        "view_id",
        "click_id",
        (ts_micros("click_ts") - ts_micros("view_ts")).alias("dm_us"),
    )


def streaming_funnel(
    spark: SparkSession,
    source_dir: str,
    query_name: str = "Funnel",
    watermark: str = WATERMARK,
):
    """Stream-stream interval join (:func:`funnel_join`): clicks within
    10 min after a view by the same user (the batch twin is the
    oracle-checked `join_interval_funnel` query), to an in-memory sink.

    ``watermark`` is a parameter because the equality TEST must set it
    wider than the dataset's time span: the file mirror source does not
    replay in event-time order, and any batch arriving behind the
    advanced watermark would be (correctly!) evicted — that's late-data
    semantics, not a bug, but it makes stream==batch comparison
    nondeterministic under arbitrary file ordering."""
    events = parse_message_stream(file_message_stream(spark, source_dir))
    joined = funnel_join(events, watermark).select("user_id", "view_id", "click_id")
    return start_to_memory(joined, query_name, "append")


def streaming_dedup_events(spark: SparkSession, source_dir: str, query_name: str = "DedupEvents"):
    """Streaming exactly-once-per-event_id dedup with bounded state:
    watermark + dropDuplicatesWithinWatermark — duplicate deliveries
    within the watermark horizon are suppressed, state older than the
    horizon is evicted (the unbounded-state fix the naive dropDuplicates
    would have)."""
    events = parse_message_stream(file_message_stream(spark, source_dir))
    deduped = events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(["event_id"])
    return start_to_memory(deduped, query_name, "append")


def streaming_tumbling_distinct(
    spark: SparkSession, source_dir: str, query_name: str = "TumblingDistinct"
):
    """Streaming cardinality rollup: hourly approx distinct users per
    type. approx_count_distinct's HLL buffer is the mergeable,
    bounded-size state that makes distinct-count streamable (exact
    distinct would hold every user id per open window); complete mode
    over the file-mirror, converges to within HLL rsd of the batch
    exact count (pinned in tests)."""
    events = parse_message_stream(file_message_stream(spark, source_dir))
    agg = tumbling_distinct_agg(events.withWatermark("ts", WATERMARK), exact=False)
    return start_to_memory(agg, query_name, "complete")
