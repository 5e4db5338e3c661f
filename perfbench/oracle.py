"""Correctness checks against DuckDB, run outside the timed region.

Batch queries: the Spark rows must equal the rows of the query's DuckDB
SQL from ``__spark_entry__.oracle_sql()`` as an order-insensitive multiset,
with column names compared sorted and every cell type-tagged (an int 936
never equals a float 936.0; floats compare by ``repr``). Queries without
SQL are checked rows-only: they must return at least one row.

Stream sinks: the converged table must equal DuckDB's latest row per
``user_id`` (``ts DESC, event_id DESC``, ``error`` and empty event types
excluded) over every event fed to the stream.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

SINK_ORACLE = """
SELECT user_id, event_id, ts, CAST(ts AS DATE) AS event_date, event_type, value,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k
FROM events
WHERE event_type <> 'error' AND event_type <> ''
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""
SINK_COLUMNS = ["user_id", "event_id", "ts", "event_date", "event_type", "value", "k"]


def _norm(v):
    """Type-tagged cell: ints and floats never compare equal."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v + 0.0))  # -0.0 == 0.0 across engines
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm(x) for x in v))
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v))
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    return (type(v).__name__, str(v))


def canonical(rows, columns: list[str]) -> list[tuple]:
    """Rows as a sorted list of normalized tuples, columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def mismatch(got_rows, got_cols, want_rows, want_cols) -> str | None:
    """None when both results are equal, else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)}"
    got, want = canonical(got_rows, got_cols), canonical(want_rows, want_cols)
    if got != want:
        bad = next(g for g, w in zip(got, want) if g != w)
        return f"values differ, first: {bad!r}"
    return None


class Oracle:
    """DuckDB views over one directory of generated tables."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def check_rows(self, sql: str | None, columns: list[str], rows) -> str | None:
        """None when Spark's ``rows`` match the oracle ``sql`` (rows-only
        when there is no SQL), else a one-line reason."""
        rows = [tuple(r) for r in rows]
        if sql is None:
            return None if rows else "rows-only query returned no rows"
        rel = self.con.sql(sql)
        return mismatch(rows, columns, rel.fetchall(), list(rel.columns))

    def close(self) -> None:
        self.con.close()


def latest_per_key(events: pa.Table) -> pa.Table:
    """DuckDB's latest non-error row per ``user_id`` of ``events``."""
    con = duckdb.connect()
    try:
        con.register("events", events)
        return con.sql(SINK_ORACLE).arrow()
    finally:
        con.close()


def write_state(rows: pa.Table, sink_dir: str) -> None:
    """Write ``rows`` as an upsert sink table, typed as the sink writes it
    (event time as a UTC-adjusted timestamp)."""
    ts = rows.schema.get_field_index("ts")
    rows = rows.set_column(ts, "ts", rows.column(ts).cast(pa.timestamp("us", tz="UTC")))
    os.makedirs(sink_dir)
    pq.write_table(rows, os.path.join(sink_dir, "part-00000.parquet"))


def check_sink(sink_dir: str, events: pa.Table) -> str | None:
    """None when the sink holds exactly the latest non-error row per key.
    Compared inside DuckDB (multiset difference both ways), because the
    growing sink holds hundreds of thousands of rows."""
    if not os.path.isdir(sink_dir):
        return "sink table missing"
    got = pads.dataset(sink_dir, format="parquet").to_table().select(SINK_COLUMNS)
    ts = got.schema.get_field_index("ts")
    got = got.set_column(ts, "ts", got.column(ts).cast(pa.timestamp("us")))
    con = duckdb.connect()
    try:
        con.register("events", events)
        con.register("got", got)
        con.execute(f"CREATE TABLE want AS {SINK_ORACLE}")
        cols = ", ".join(SINK_COLUMNS)
        n_got, n_want = (con.sql(f"SELECT count(*) FROM {t}").fetchone()[0] for t in ("got", "want"))
        if n_got != n_want:
            return f"{n_got} rows != {n_want}"
        bad = con.sql(
            f"SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want LIMIT 1"
        ).fetchall()
        return f"values differ, first: {bad[0]!r}" if bad else None
    finally:
        con.close()
