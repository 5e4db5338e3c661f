"""Seeded generator of the engine's input tables and stream files.

Everything the benchmark feeds the engine comes from here, so the same
``seed`` always yields byte-identical inputs. The batch tables follow the
schemas in ``schemas.TABLES`` and the value distributions of the sf0.01
test tables (row counts scale with ``sf``; documents and embeddings keep
their fixed 500-row corpus). Stream events follow the ``events`` template;
only their keys differ between the two stream workloads.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
EVENT_EPOCH = dt.datetime(2024, 1, 1)
EVENT_SPAN = dt.timedelta(days=30)
EVENT_SCHEMA = pa.schema(
    [("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
     ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]
)
HOT_USERS = 1500  # distinct users of the sf0.1 events table


def _days(rng: np.random.Generator, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return list(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def batch_tables(seed: int, sf: float = 0.01) -> dict[str, pa.Table]:
    """All ten engine tables at scale ``sf`` (1.0 = 150k customers)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(_pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": np.sort(rng.integers(0, n_ord, n_li)).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    n_users = max(1, n_ev * HOT_USERS // 100_000)
    tables["events"] = events_table(rng, n_ev, rng.integers(0, n_users, n_ev))
    tables["documents"] = _documents(rng, 500)
    tables["embeddings"] = _embeddings(rng, 500)
    return tables


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad corpus with planted near-duplicates: about one doc in
    twenty repeats an earlier doc's text with a trailing " dup"."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(WORDS[w] for w in words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.normal(size=(n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def events_table(
    rng: np.random.Generator,
    n: int,
    user_ids: np.ndarray,
    first_event_id: int = 0,
    epoch: dt.datetime = EVENT_EPOCH,
) -> pa.Table:
    """``n`` events with increasing ids and event times (microsecond
    resolution over 30 days from ``epoch``) for the given keys."""
    gaps = rng.exponential(EVENT_SPAN / dt.timedelta(seconds=1) / max(1, n), n)
    ts_us = np.round(np.cumsum(gaps) * 1e6).astype(np.int64)
    ts = np.datetime64(epoch, "us") + ts_us.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": np.arange(first_event_id, first_event_id + n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": np.asarray(user_ids, dtype=np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        },
        schema=EVENT_SCHEMA,
    )


def stream_events(
    seed: int, keys: str, n_files: int, per_file: int, prior: int = 0
) -> tuple[pa.Table, list[int], pa.Table]:
    """Events for one stream workload, the order its files are fed in, and
    the history already in the sink when the stream starts.

    ``keys="growing"``: ``prior`` earlier events over distinct keys fill
    the sink before the first batch. Of the streamed events, about four in
    five carry a key never seen before in feed order and the rest update a
    key seen before (history included), so the sink's table grows on every
    batch. ``keys="hot"``: keys come from the ``HOT_USERS`` users, and the
    first file fed starts with one non-error event per user, so the table
    holds exactly ``HOT_USERS`` rows after every batch.

    Returns the events, whose row ``file * per_file + j`` belongs to file
    ``file``; ``order``, the file indices in feed order; and the history
    events (empty for ``hot``).
    """
    if per_file % 3:
        raise ValueError("per_file must be a multiple of 3 (3 events per message)")
    rng = np.random.default_rng([seed, 2])
    n = n_files * per_file
    order = [int(f) for f in rng.permutation(n_files)]
    user = np.empty(n, dtype=np.int64)
    history_keys = np.arange(prior if keys == "growing" else 0, dtype=np.int64) + 100_000_000
    history = events_table(rng, len(history_keys), history_keys, n, EVENT_EPOCH - EVENT_SPAN)
    if keys == "growing":
        fresh = iter(rng.permutation(np.arange(10 * n, dtype=np.int64)) + 1_000_000)
        seen: list[int] = history_keys.tolist()
        for f in order:
            for j in range(f * per_file, (f + 1) * per_file):
                if seen and rng.random() < 0.2:
                    user[j] = seen[int(rng.integers(0, len(seen)))]
                else:
                    user[j] = next(fresh)
                    seen.append(int(user[j]))
    elif keys == "hot":
        if per_file < HOT_USERS:
            raise ValueError(f"per_file must be at least {HOT_USERS} for hot keys")
        user[:] = rng.integers(0, HOT_USERS, n)
        first = order[0] * per_file
        user[first : first + HOT_USERS] = rng.permutation(HOT_USERS)
    else:
        raise ValueError(f"unknown key mode {keys!r}")
    events = events_table(rng, n, user)
    if keys == "hot":
        etype = np.array(events.column("event_type").to_pylist(), dtype=object)
        first = order[0] * per_file
        head = etype[first : first + HOT_USERS]
        head[head == "error"] = "view"
        etype[first : first + HOT_USERS] = head
        events = events.set_column(
            events.schema.get_field_index("event_type"), "event_type", pa.array(list(etype))
        )
    return events, order, history


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
