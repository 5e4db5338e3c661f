"""Custom stateful streaming operator — applyInPandasWithState.

The reference's only stateful construct is the implicit upsert state its
Cassandra PK table carries (cassandra_sink.scala:71-79). This module is
the engine's escape hatch for state the built-in operators can't express
(windowed aggs, dropDuplicates*, session_window cover the common cases):
an arbitrary per-key accumulator maintained by the Structured Streaming
state store, with Arrow-batched (not per-row) user code.

Demo operator: per-user running totals (event count, value sum, latest
event time), emitted in `update` mode every time a key appears in a
micro-batch. Its end state equals the batch groupBy aggregate — pinned in
tests/test_streaming.py.

Scale notes (100 TB): state lives in the executor state store (RocksDB
backend in production: `spark.sql.streaming.stateStore.providerClass`),
partitioned by the group key, so state size scales out with executors;
the pandas function only ever sees one key's rows per call. Unbounded
key cardinality needs a timeout policy — pass
``GroupStateTimeout.ProcessingTimeTimeout`` and call
``state.setTimeoutDuration`` to evict idle keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import conf_pinned
from .sinks import start_to_memory
from .sources import file_message_stream, parse_message_stream

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, sum_value double, last_ts timestamp"
STATE_SCHEMA = "n bigint, s double, last_us bigint"


def _running_totals(key, pdf_iter, state):
    import pandas as pd

    n, s, last_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        s += float(pdf["value"].sum())
        # pandas timestamps are ns since epoch; state keeps micros
        last_us = max(last_us, int(pdf["ts"].astype("int64").max()) // 1000)
    state.update((n, s, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value": [s],
            "last_ts": [pd.Timestamp(last_us, unit="us")],
        }
    )


def require_keys(events: DataFrame, *cols: str) -> DataFrame:
    """Drop rows whose REQUIRED columns are null before stateful grouping.

    from_json yields an all-null row for any malformed wire record; the
    quarantine parse variant routes those aside, but a pipeline wired on
    the plain parse chain would otherwise feed a null-key group into
    applyInPandasWithState, where int(None)/int(NaN) raises and KILLS
    the whole streaming query — one bad message must never be a poison
    pill for a stateful operator. Filtering here (not in the parse
    chain) keeps the drop policy visible at the operator boundary;
    pipelines that need the bad rows still use parse_quarantine."""
    pred = None
    for c in cols:
        p_ = F.col(c).isNotNull()
        pred = p_ if pred is None else pred & p_
    return events.filter(pred)


def running_totals(events: DataFrame) -> DataFrame:
    """Streaming per-user running totals over the parsed event stream."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return require_keys(events, "user_id", "ts").groupBy(
        "user_id"
    ).applyInPandasWithState(
        _running_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_running_totals(spark, source_dir: str, query_name: str = "RunningTotals"):
    """File-mirror-source wiring; memory sink in update mode so the latest
    row per user is the converged accumulator."""
    events = parse_message_stream(file_message_stream(spark, source_dir))
    return start_to_memory(running_totals(events), query_name, "update")


# ---------------------------------------------------------------------------
# Streaming sessionizer — the per-EVENT twin of operators/timeseries.py's
# batch `sessionize_assign` (same 15-min gap rule, same (ts, event_id)
# ordering). `stream_session` (session_window) emits per-SESSION rollups;
# this op assigns the session SEQUENCE NUMBER on each event as it flows —
# the id a sequence-construction pipeline stamps on training examples.
#
# State per user is (last event micros, sessions so far): two bigints,
# regardless of history length — the same O(1)-per-key bound as the batch
# twin's lag() window. Single-pass assignment is order-sensitive by
# construction: within a micro-batch rows are sorted by (ts, event_id);
# across micro-batches correctness requires the source to deliver a key's
# events in event-time order (true for Kafka per-partition keyed producers
# and the file mirror's time-sliced files). For out-of-order streams use
# `stream_session`'s watermarked session_window, which buffers and merges.

SESSIONIZE_OUTPUT = "event_id bigint, user_id bigint, session_seq bigint"
SESSIONIZE_STATE = "last_us bigint, seq bigint"
# THE gap constant — imported, not copied: the stream==batch sessionizer
# equality depends on it matching the batch twin's rule.
from ..operators.timeseries import SESSION_GAP_US  # noqa: E402


def _sessionize(key, pdf_iter, state):
    import pandas as pd

    last_us, seq = state.get if state.exists else (-1, 0)
    df = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
    ts_us = (df["ts"].astype("int64") // 1000).tolist()
    ids, seqs = [], []
    for t, eid in zip(ts_us, df["event_id"].tolist()):
        if last_us < 0 or t - last_us > SESSION_GAP_US:
            seq += 1
        last_us = t
        ids.append(int(eid))
        seqs.append(seq)
    state.update((int(last_us), int(seq)))
    yield pd.DataFrame(
        {"event_id": ids, "user_id": int(key[0]), "session_seq": seqs}
    )


def sessionize_events(events: DataFrame) -> DataFrame:
    """Streaming per-event session assignment over the parsed event
    stream; end-to-end equality with the batch `sessionize_assign` is
    pinned in tests/test_streaming.py (time-ordered micro-batches)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        require_keys(events, "user_id", "ts", "event_id")
        .select("event_id", "ts", "user_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            outputStructType=SESSIONIZE_OUTPUT,
            stateStructType=SESSIONIZE_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_sessionize(spark, source_dir: str, query_name: str = "Sessionize"):
    """File-mirror wiring: one file per micro-batch (time-sliced by the
    caller), append-mode memory sink — every event appears exactly once
    with its assigned session id."""
    events = parse_message_stream(file_message_stream(spark, source_dir))
    return start_to_memory(sessionize_events(events), query_name, "append")


# ---------------------------------------------------------------------------
# Session-close monitor — applyInPandasWithState + EventTimeTimeout.
#
# The sessionizer above keeps one (last_us, seq) row per user FOREVER —
# fine for bounded key sets, unbounded state growth for open-world user
# ids. This op closes the loop: it emits one summary row per CLOSED
# session and EVICTS the key's state when its session can no longer grow
# (event-time timeout = watermark passed last event + gap). State per
# key is bounded AND finite-lived — the contract a 100 TB deployment
# needs from every stateful operator.
#
# A session closes two ways:
# - by GAP: a later event of the same user arrives > gap after the
#   previous one -> the previous session's summary emits inline;
# - by IDLE: no event arrives and the watermark passes
#   last_event + gap -> Spark invokes the function with
#   state.hasTimedOut=True; the final session's summary emits and
#   state.remove() evicts the key.

SESSION_SUMMARY_OUTPUT = (
    "user_id bigint, session_seq bigint, session_start timestamp, "
    "n_events bigint, last_ts timestamp"
)
SESSION_SUMMARY_STATE = "last_us bigint, seq bigint, n bigint, start_us bigint"


def _session_close(key, pdf_iter, state):
    import pandas as pd

    if state.hasTimedOut:
        last_us, seq, n, start_us = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "session_seq": [seq],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "n_events": [n],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )
        return

    last_us, seq, n, start_us = (
        state.get if state.exists else (-1, 0, 0, -1)
    )
    closed_seq, closed_n, closed_last, closed_start = [], [], [], []
    df = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
    for t in (df["ts"].astype("int64") // 1000).tolist():
        if last_us < 0:
            seq, n, start_us = 1, 1, t
        elif t - last_us > SESSION_GAP_US:
            closed_seq.append(seq)
            closed_n.append(n)
            closed_last.append(pd.Timestamp(last_us, unit="us"))
            closed_start.append(pd.Timestamp(start_us, unit="us"))
            seq, n, start_us = seq + 1, 1, t
        else:
            n += 1
            # a late (within-watermark) event can extend the session
            # BACKWARD too — keep the earliest event as the start so the
            # (user_id, session_start) identity is the true first event
            start_us = min(start_us, t)
        # max, not assignment: a LATE event (older than the session's
        # current end, but within the watermark — the disorder this
        # operator exists to tolerate) must not move the session clock
        # BACKWARD; that would shrink the timeout and fabricate a gap
        # split against the next on-time event.
        last_us = max(last_us, t)
    state.update((int(last_us), int(seq), int(n), int(start_us)))
    # the open session can't grow once the watermark passes last + gap.
    # Clamp: Spark REJECTS (throws, killing the query) a timeout at or
    # below the current watermark. With EventTimeTimeout the engine
    # filters below-watermark rows before this function, so last+gap >
    # watermark normally holds (pinned in
    # test_session_close_late_group_does_not_kill_query) — the clamp is
    # defense-in-depth for the boundary and for any mode without the
    # pre-filter; a clamped session closes on the next trigger.
    target_ms = last_us // 1000 + SESSION_GAP_US // 1000
    wm_ms = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(target_ms, wm_ms + 1))
    yield pd.DataFrame(
        {
            "user_id": int(key[0]),
            "session_seq": closed_seq,
            "session_start": closed_start,
            "n_events": closed_n,
            "last_ts": closed_last,
        }
    )


def session_close_monitor(events: DataFrame, watermark: str = "1 minutes") -> DataFrame:
    """Closed-session summaries with state eviction on event-time
    timeout; equality with batch session aggregates and the eviction
    behavior are pinned in tests/test_streaming.py.

    Identity contract: the DURABLE key of a summary is
    ``(user_id, session_start)`` — unique because a user's sessions have
    strictly increasing starts. ``session_seq`` is monotone only within
    one state lifetime: after an idle-timeout EVICTS a user's state (the
    whole point — bounded, finite-lived state), a returning user's seq
    restarts at 1, so seq alone must NOT key an upsert sink. Keeping the
    counter alive would mean one state row per user forever — exactly
    the unbounded growth this operator exists to prevent."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        require_keys(events, "user_id", "ts", "event_id")
        .select("event_id", "ts", "user_id")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_close,
            outputStructType=SESSION_SUMMARY_OUTPUT,
            stateStructType=SESSION_SUMMARY_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming heavy hitters — sharded Misra-Gries in the state store.
#
# Batch `heavy_hitters` (operators/text.py) runs two passes; a stream
# gets ONE pass, so it keeps a Misra-Gries summary as state. Sharding
# by hash(user_id) % HH_SHARDS keeps the operator distributed (a single
# global sketch would single-partition the stream): each user lands in
# exactly one shard, so the per-shard MG guarantee applies unsharded —
# any user with true shard count > shard_total/(k+1) is guaranteed
# present among that shard's k counters, with
# count_lb <= true <= count_lb + decrements. The global candidate set is
# the union of shard candidates (the classic mergeable-summary layout:
# k counters per shard, shards merge by union — never a global shuffle).
# State per shard: two parallel arrays (keys, counts) of length <= k.
# ---------------------------------------------------------------------------

HH_SHARDS = 4
HH_K = 8  # counters per shard

HH_OUTPUT = "shard int, user_id bigint, count_lb bigint, shard_total bigint"
HH_STATE = "keys array<bigint>, counts array<bigint>, total bigint"


def _mg_update(key, pdf_iter, state):
    import pandas as pd

    if state.exists:
        keys, counts, total = state.get
        mg = dict(zip(list(keys), list(counts)))
    else:
        mg, total = {}, 0
    for pdf in pdf_iter:
        for uid, n in pdf["user_id"].value_counts().items():
            uid, n = int(uid), int(n)
            total += n
            if uid in mg:
                mg[uid] += n
            elif len(mg) < HH_K:
                mg[uid] = n
            else:
                # decrement-all by the min spendable amount (batched MG:
                # decrementing by d absorbs d arrivals at once)
                d = min(n, min(mg.values()))
                mg = {u: c - d for u, c in mg.items() if c - d > 0}
                if n - d > 0 and len(mg) < HH_K:
                    mg[uid] = n - d
    state.update((list(mg.keys()), list(mg.values()), total))
    yield pd.DataFrame(
        {
            "shard": int(key[0]),
            "user_id": [int(u) for u in mg],
            "count_lb": [int(c) for c in mg.values()],
            "shard_total": total,
        }
    )


def heavy_hitters_stream(events: DataFrame) -> DataFrame:
    """Streaming frequent-user summary: one MG sketch per shard,
    emitted (update mode) as candidate rows after every micro-batch."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        require_keys(events, "user_id")
        .select(
            # pmod, not abs(hash)%n: hash() is int32 and
            # abs(Integer.MIN_VALUE) stays negative, which would put that
            # one key outside [0, HH_SHARDS)
            F.pmod(F.hash("user_id"), F.lit(HH_SHARDS)).alias("shard"),
            "user_id",
        )
        .groupBy("shard")
        .applyInPandasWithState(
            _mg_update,
            outputStructType=HH_OUTPUT,
            stateStructType=HH_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_heavy_hitters(spark, source_dir: str, query_name: str = "HeavyHitters"):
    events = parse_message_stream(file_message_stream(spark, source_dir))
    return start_to_memory(heavy_hitters_stream(events), query_name, "update")


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4) — the successor stateful API.
#
# applyInPandasWithState (above) carries ONE opaque state tuple per key;
# transformWithState gives typed, composable state primitives
# (ValueState/ListState/MapState) plus event-time timers, all backed by
# the same checkpointed state store. Demo operator: per-user running
# TOP-K largest event values — ListState holds at most K (value,
# event_id) pairs per key, so state is O(K) regardless of stream length,
# and every micro-batch emits the key's refreshed top-k (update mode).
# The batch twin is window_rank's row_number formulation; equality is
# pinned in tests/test_streaming.py.
# ---------------------------------------------------------------------------

TWS_TOPK = 3
STATE_STORE_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB_PROVIDER = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
TWS_OUTPUT = "user_id bigint, value double, event_id bigint, rnk int"
_TWS_AVAILABLE = True
try:
    from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    # the TWS Python runner speaks protobuf to the JVM state server; a
    # container without google.protobuf crashes the driver worker at
    # query start — detect it here so callers get a clear gate, exactly
    # like the Cassandra-jar and PIL-decoder gates.
    import google.protobuf.descriptor  # noqa: F401
except ImportError:  # pragma: no cover - pyspark < 4.0 or no protobuf
    _TWS_AVAILABLE = False
    StatefulProcessor = object  # type: ignore


class TopKEventsProcessor(StatefulProcessor):
    """Keeps each user's K largest (value, event_id) pairs in ListState."""

    def init(self, handle):
        self._top = handle.getListState("topk", "value double, event_id bigint")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        cur = [(float(r.value), int(r.event_id)) for r in self._top.get()]
        for pdf in rows:
            cur.extend(
                zip(pdf["value"].astype(float), pdf["event_id"].astype(int))
            )
        # largest value first; event_id ASC breaks value ties deterministically
        cur.sort(key=lambda t: (-t[0], t[1]))
        cur = cur[:TWS_TOPK]
        self._top.clear()
        self._top.appendList(cur)
        yield pd.DataFrame(
            {
                "user_id": int(key[0]),
                "value": [v for v, _ in cur],
                "event_id": [e for _, e in cur],
                "rnk": list(range(1, len(cur) + 1)),
            }
        )

    def close(self):
        pass


def topk_events_stream(events: DataFrame) -> DataFrame:
    if not _TWS_AVAILABLE:
        raise RuntimeError(
            "transformWithStateInPandas requires Spark >= 4.0 AND the "
            "google.protobuf package (its driver worker protocol)"
        )
    return (
        require_keys(events, "user_id", "event_id")
        .select("user_id", "value", "event_id")
        .groupBy("user_id")
        .transformWithStateInPandas(
            TopKEventsProcessor(),
            outputStructType=TWS_OUTPUT,
            outputMode="update",
            timeMode="none",
        )
    )


def streaming_topk_events(spark, source_dir: str, query_name: str = "TopKEvents"):
    """transformWithState requires the RocksDB state store (the HDFS
    provider lacks the multi-column-family layout its typed states map
    onto). The provider is pinned across ``.start()``: the started query
    keeps it, and OTHER queries in the shared session keep the default
    provider."""
    events = parse_message_stream(file_message_stream(spark, source_dir))
    with conf_pinned(spark, STATE_STORE_PROVIDER, ROCKSDB_PROVIDER):
        return start_to_memory(topk_events_stream(events), query_name, "update")


# -- ValueState form: the running-totals accumulator on the new API ---------
# Complements TopKEventsProcessor's ListState: together the two TWS demos
# cover the typed-state primitives the old one-opaque-tuple API couldn't
# express. End state equals the batch groupBy aggregate AND the
# applyInPandasWithState form above (same recurrence, same STATE_SCHEMA) —
# pinned in tests/test_streaming.py behind the protobuf gate.


class RunningTotalsProcessor(StatefulProcessor):
    """ValueState twin of ``_running_totals``: one typed (n, s, last_us)
    value per user, TTL-capable (pass ttlDurationMs to getValueState to
    age out idle keys instead of the manual timeout-eviction dance)."""

    def init(self, handle) -> None:
        self._state = handle.getValueState("totals", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        n, s, last_us = (
            tuple(self._state.get()) if self._state.exists() else (0, 0.0, 0)
        )
        for pdf in rows:
            n += len(pdf)
            s += float(pdf["value"].sum())
            last_us = max(last_us, int(pdf["ts"].astype("int64").max()) // 1000)
        self._state.update((n, s, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [s],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    def close(self) -> None:
        pass


def running_totals_tws(events: DataFrame) -> DataFrame:
    """transformWithStateInPandas running totals — same semantics as
    :func:`running_totals`, new-API form."""
    if not _TWS_AVAILABLE:
        raise RuntimeError(
            "transformWithStateInPandas requires Spark >= 4.0 AND the "
            "google.protobuf package (its driver worker protocol)"
        )
    return (
        require_keys(events, "user_id", "ts")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningTotalsProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def streaming_running_totals_tws(
    spark, source_dir: str, query_name: str = "RunningTotalsTWS"
):
    """File-mirror wiring for the ValueState accumulator (RocksDB
    provider pinned the same way as streaming_topk_events)."""
    events = parse_message_stream(file_message_stream(spark, source_dir))
    with conf_pinned(spark, STATE_STORE_PROVIDER, ROCKSDB_PROVIDER):
        return start_to_memory(running_totals_tws(events), query_name, "update")
