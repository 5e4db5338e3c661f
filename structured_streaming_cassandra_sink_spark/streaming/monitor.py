"""Streaming observability — structured metrics via StreamingQueryListener.

The reference's only diagnostics are println calls inside the sink
(cassandra_sink.scala:21,26,39). The engine replaces that with the
listener API: per-micro-batch progress (input and processing rates,
processed rows, batch duration and its phases, event-time watermark,
state-store rows and memory) captured as structured records — the
numbers an operator pages on at 100 TB (watermark lag, state growth,
batch duration vs trigger interval). The phases split a trigger into
source work (``latestOffset``, ``getBatch``), planning
(``queryPlanning``), the sink (``addBatch``) and the offset/commit log
writes (``walCommit``, ``commitOffsets``), so a sink's share of each
batch is on record without the Spark UI.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchMetrics:
    query_name: str
    batch_id: int
    num_input_rows: int
    duration_ms: int | None
    state_rows: int | None
    # every ``durationMs`` entry of the progress report, by phase name
    phases_ms: dict[str, int] = field(default_factory=dict)
    # rates over the trigger; Spark omits a rate it cannot compute (NaN)
    input_rows_per_s: float | None = None
    processed_rows_per_s: float | None = None
    # event-time watermark (ISO-8601 UTC), None before the first one
    watermark: str | None = None
    # summed over all stateful operators, like ``state_rows``
    state_memory_bytes: int | None = None


@dataclass
class MetricsCollector(StreamingQueryListener):
    """Collects per-batch metrics for every streaming query on the
    session. Attach with ``spark.streams.addListener(collector)``;
    records accumulate in ``collector.batches`` (driver-side, bounded by
    micro-batch count — ship to a metrics sink in production)."""

    batches: list[BatchMetrics] = field(default_factory=list)

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API names)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        state = p.get("stateOperators") or []
        phases = p.get("durationMs") or {}
        self.batches.append(
            BatchMetrics(
                query_name=p.get("name") or p.get("id", "?"),
                batch_id=p.get("batchId", -1),
                num_input_rows=p.get("numInputRows", 0),
                duration_ms=phases.get("triggerExecution"),
                # SUM over all stateful operators: a join+dedup query reports
                # several entries, and a leak in any of them must show
                state_rows=sum(op.get("numRowsTotal", 0) for op in state)
                if state
                else None,
                phases_ms=phases,
                input_rows_per_s=p.get("inputRowsPerSecond"),
                processed_rows_per_s=p.get("processedRowsPerSecond"),
                watermark=(p.get("eventTime") or {}).get("watermark"),
                state_memory_bytes=sum(op.get("memoryUsedBytes", 0) for op in state)
                if state
                else None,
            )
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def total_input_rows(self, query_name: str) -> int:
        return sum(b.num_input_rows for b in self.batches if b.query_name == query_name)
