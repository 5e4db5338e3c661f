"""Streaming sources — Kafka for production, file/rate mirrors for tests.

The reference reads Kafka (cassandra_sink.scala:98-103). Our engine keeps
that exact call for production (`kafka_stream`) and adds local mirrors
that reproduce the Kafka *message shape* — a single string `value` column
whose payload holds multiple '\\n'-separated JSON records
(cassandra_sink.scala:92-97) — so the parse pipeline is identical in tests
and production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# JSON wire schema for events flowing through the value column; ts is an
# ISO-8601 string on the wire (explicit, never inferred).
EVENT_WIRE = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        # TIMESTAMP (tz-aware), NOT the tables' TIMESTAMP_NTZ: Spark
        # refuses watermarks on NTZ event time ([EVENT_TIME_IS_NOT_ON_
        # TIMESTAMP_TYPE]), so the streaming wire is tz-aware ISO-8601
        # and events_to_messages casts NTZ -> TIMESTAMP when encoding
        # (instant-preserving: session tz is pinned to UTC).
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("props", T.StringType(), True),
    ]
)

VALUE_ONLY = T.StructType([T.StructField("value", T.StringType(), False)])

# Microsecond-precision wire formats — IMPORTED from the batch edge
# formats (sources/formats.py), the single owner: the streaming JSON
# wire and the JSONL/CSV edge files must always agree or a corpus
# written by one path truncates/misparses timestamps read by the other.
from ..sources.formats import TS_FORMAT, TS_NTZ_FORMAT  # noqa: E402

_JSON_OPTS = {"timestampFormat": TS_FORMAT, "timestampNTZFormat": TS_NTZ_FORMAT}


def kafka_stream(
    spark: SparkSession, brokers: str, topic: str, starting_offsets: str = "latest"
) -> DataFrame:
    """Production source — the reference's Kafka scan, unchanged semantics
    (cassandra_sink.scala:98-103). Yields the Kafka envelope; callers
    take `CAST(value AS STRING)` exactly like ref :113."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def file_message_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Test mirror: parquet files each holding `value: string` messages
    (possibly multi-record, '\\n'-joined). maxFilesPerTrigger=1 makes each
    file one micro-batch — deterministic replay of the Kafka cadence."""
    return (
        spark.readStream.schema(VALUE_ONLY)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def events_to_messages(events: DataFrame, records_per_message: int = 3) -> DataFrame:
    """The one message encoder: pack rows into Kafka-shaped messages —
    JSON-encode each row, then '\\n'-join the rows whose id (the FIRST
    column: ``event_id`` for events, ``doc_id`` for documents) floors to
    the same multiple of ``records_per_message`` (mirrors the
    reference's multi-record payloads, cassandra_sink.scala:92-97).
    TIMESTAMP_NTZ columns go on the wire as tz-aware TIMESTAMP (see
    EVENT_WIRE), written in the wire's microsecond formats."""
    cols = [
        F.col(c).cast("timestamp").alias(c)
        if isinstance(events.schema[c].dataType, T.TimestampNTZType)
        else F.col(c)
        for c in events.columns
    ]
    return (
        events.withColumn(
            "json",
            F.to_json(F.struct(*cols), _JSON_OPTS),
        )
        .withColumn("msg_id", F.floor(F.col(events.columns[0]) / records_per_message))
        .groupBy("msg_id")
        .agg(F.concat_ws("\n", F.collect_list("json")).alias("value"))
        .select("value")
    )


def _message_lines(messages: DataFrame) -> DataFrame:
    """cast -> explode(split('\\n')) -> drop empty lines: the one
    line-split both parse chains share, as a single ``line`` column."""
    return (
        messages.select(F.col("value").cast("string").alias("value"))
        .select(F.explode(F.split(F.col("value"), "\n")).alias("line"))
        .filter(F.col("line") != "")
    )


def parse_message_stream_with_quarantine(
    messages: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Parse chain with an explicit bad-records policy — the semantic gap
    the reference leaves open (its non-nullable StructFields are not
    enforced; malformed JSON silently becomes nulls,
    cassandra_sink.scala:105-110 / SURVEY.md §1.2).

    Returns (good, quarantine): a line is quarantined when from_json
    cannot produce the two NOT-NULL key fields (event_id, ts). The
    quarantine side keeps the raw line for replay/debugging — route it to
    a dead-letter sink in production. Both are lazy projections of one
    parse; Catalyst computes from_json once per branch, map-side."""
    parsed = _message_lines(messages).select(
        "line",
        F.from_json(F.col("line"), EVENT_WIRE, _JSON_OPTS).alias(
            "data"
        ),
    )
    ok = F.col("data.event_id").isNotNull() & F.col("data.ts").isNotNull()
    good = parsed.filter(ok).select("data.*")
    quarantine = parsed.filter(~ok).select(F.col("line").alias("raw"))
    return good, quarantine


def parse_message_stream(
    messages: DataFrame,
    schema: T.StructType = EVENT_WIRE,
    options: dict | None = None,
) -> DataFrame:
    """The reference's parse chain, PySpark-native (SURVEY.md §2.1 #2-#6):
    cast -> explode(split('\\n')) [NOT a lambda flatMap: stays in Catalyst,
    no object-serialization barrier] -> from_json(declared schema) ->
    flatten. Works identically on batch and streaming DataFrames, and on
    any wire schema (the curation stream passes DOC_WIRE) — ONE parse
    chain, so split pattern / empty-line policy / timestamp options
    can't drift between pipelines."""
    return (
        _message_lines(messages)
        .select(
            F.from_json(
                F.col("line"), schema, _JSON_OPTS if options is None else options
            ).alias("data")
        )
        .select("data.*")
    )
