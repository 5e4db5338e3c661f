"""Streaming corpus curation — the LLM-data pipeline as continuous ingest.

Capstone wiring: documents arrive as Kafka-shaped messages (multi-record
'\\n'-joined JSON, same envelope as the reference's fx feed), and the
batch curation expressions (operators/curation.py) run unchanged on the
stream: parse -> quality gate -> fingerprint -> upsert-by-fingerprint
keep-lowest-doc_id into the curated corpus. The sink's end state equals
the batch curation result on the same documents — pinned in
tests/test_streaming.py.

This is the engine's thesis in one pipeline: the reference's streaming
ETL shape (source -> parse -> derive -> filter -> keyed upsert sink,
cassandra_sink.scala:82-130) carrying training-data operators instead of
fx ticks, with batch/stream sharing one expression tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.textfns import fingerprint
from ..operators.curation import MIN_QUALITY, quality_expr
from .sinks import parquet_upsert_sink, start_to_sink
from .sources import events_to_messages, file_message_stream, parse_message_stream

DOC_WIRE = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


def docs_to_messages(docs: DataFrame, records_per_message: int = 3) -> DataFrame:
    """Pack documents into Kafka-shaped multi-record messages, keyed by
    doc_id, through the one message encoder."""
    return events_to_messages(
        docs.select("doc_id", "text", "lang", "source"), records_per_message
    )


def curate(parsed: DataFrame) -> DataFrame:
    """The shared batch/stream curation expression tree: quality gate +
    fingerprint (+ the keep-lowest-doc_id priority used by the upsert).
    The score comes from operators.curation.quality_expr — the SAME
    Column the batch pipeline filters on."""
    scored = parsed.select(
        "doc_id",
        "lang",
        "source",
        fingerprint(F.col("text")).alias("fp"),
        quality_expr().alias("quality"),
    )
    # upsert keeps the MAX of the order column per key; negate doc_id so
    # "latest" == lowest doc_id (exact-dedup's canonical-keep rule)
    return scored.filter(F.col("quality") >= MIN_QUALITY).withColumn(
        "keep_priority", -F.col("doc_id")
    )


def streaming_curation(
    spark: SparkSession, source_dir: str, sink_dir: str, checkpoint_dir: str
):
    """End-to-end streaming curation into a parquet corpus keyed by
    content fingerprint."""
    parsed = parse_message_stream(file_message_stream(spark, source_dir), schema=DOC_WIRE)
    curated = curate(parsed)
    sink = parquet_upsert_sink(sink_dir, key="fp", order=["keep_priority"])
    return start_to_sink(
        curated, sink, checkpoint_dir, query_name="StreamingCuration"
    )
