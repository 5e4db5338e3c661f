"""Flagship pipeline — the reference pipeline shape, batch form, on `events`.

Reference pipeline (cassandra_sink.scala:82-130):
    Kafka scan -> CAST(value AS STRING) -> split multi-JSON on \\n ->
    from_json(fixed schema) -> select(data.*) -> derive date from epoch
    millis -> filter empty keys -> upsert-by-key Cassandra sink
    (PK fx_marker => latest-row-per-key semantics, :71-79).

Batch twin here (SURVEY.md §7 M0), exercising capability classes
#1,2,5,6,7,8,10 of §2.1 on the `events` table:
    parquet scan -> from_json(props) -> flatten -> derive event_date ->
    filter -> latest-row-per-key dedup (user_id, ordered by ts).

The streaming twin lives in streaming/pipeline.py and shares
``transform_events`` unchanged — one expression tree, two execution modes.

Scale notes (100 TB):
- All expressions are Catalyst built-ins => predicate pushdown into the
  scan, column pruning, whole-stage codegen; no Python in the hot path.
- The dedup is a single hash-shuffle on user_id (row_number window). At
  1000 executors this is the canonical "latest record per key" pattern;
  skewed users are handled by AQE skew-join/partition splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import EVENT_PROPS
from ..sources import load_table
from .registry import query


def transform_events(events: DataFrame) -> DataFrame:
    """Shared batch/streaming expression tree (everything but the dedup).

    Mirrors, stage by stage:
    - from_json + flatten  <- cassandra_sink.scala:116
    - derived date column  <- cassandra_sink.scala:119
    - non-empty-key filter <- cassandra_sink.scala:120
    """
    return (
        events.withColumn("props_data", F.from_json(F.col("props"), EVENT_PROPS))
        .withColumn("k", F.col("props_data.k"))
        .withColumn("event_date", F.to_date(F.col("ts")))
        .filter((F.col("event_type") != "error") & (F.col("event_type") != ""))
        .drop("props_data", "props")
    )


def latest_per_key(df: DataFrame, key: str, order: list[str]) -> DataFrame:
    """Latest-row-per-key — the batch equivalent of the reference's
    Cassandra PK upsert semantics (cassandra_sink.scala:71-79).

    Deterministic: ties on the primary order column break on the remaining
    columns. One shuffle on ``key``; at scale this beats dropDuplicates
    (which keeps an arbitrary row) and is MERGE-equivalent.

    The ``row_number() == 1`` form is kept on purpose: Spark rewrites it
    into a partial top-1 per key before the shuffle, which pays when keys
    repeat, as in the batch queries (``dedup_by_key`` measured slower
    with the non-rewritten ``lag`` form). The upsert sink merges a
    key-unique state, where that partial top-1 drops no state row, so
    it uses the ``lag`` form instead (``streaming.sinks._state_merger``).
    """
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    parsed = transform_events(events)
    return latest_per_key(parsed, "user_id", ["ts", "event_id"]).select(
        "user_id", "event_id", "ts", "event_date", "event_type", "value", "k"
    )


FLAGSHIP_ORACLE = """
WITH parsed AS (
  SELECT event_id, ts, user_id, event_type, value,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k,
         CAST(ts AS DATE) AS event_date
  FROM events
  WHERE event_type <> 'error' AND event_type <> ''
)
SELECT user_id, event_id, ts, event_date, event_type, value, k
FROM parsed
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""

query("flagship_latest_event_per_user", FLAGSHIP_ORACLE)(flagship)
