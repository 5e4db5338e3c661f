"""Property-based tests (SURVEY.md §5.4) — hypothesis over small
generated inputs, Spark invariants checked against pure-Python oracles.

Spark jobs are ~100ms+ per example, so max_examples stays small; the
point is shrinking counterexamples for semantic edge cases (empty
strings, adversarial floats, duplicate keys), not volume.
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPARK_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# Wire-format constraint: records are '\n'-joined inside one message
# (reference payload shape, cassandra_sink.scala:92-97), so field text
# must not contain newlines. Everything else must round-trip.
wire_text = st.text(
    alphabet=st.characters(blacklist_characters="\n\r", blacklist_categories=("Cs",)),
    min_size=0,
    max_size=40,
)

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2**40),                      # event_id
        st.datetimes(                                                    # ts (micros)
            min_value=datetime.datetime(2000, 1, 1),
            max_value=datetime.datetime(2100, 1, 1),
        ),
        st.integers(min_value=-100, max_value=100),                      # user_id
        wire_text,                                                       # event_type
        st.floats(allow_nan=False, allow_infinity=False, width=32),      # value
    ),
    min_size=1,
    max_size=20,
    unique_by=lambda t: t[0],
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("props", T.StringType(), True),
    ]
)


@SPARK_SETTINGS
@given(rows=events_strategy)
def test_wire_roundtrip_property(spark, rows):
    """to_json -> '\\n'-pack -> explode/split -> from_json is lossless for
    any newline-free content (including quotes, backslashes, unicode)."""
    from structured_streaming_cassandra_sink_spark.streaming.sources import (
        events_to_messages,
        parse_message_stream,
    )

    data = [(e, ts, u, et, float(v), None) for e, ts, u, et, v in rows]
    events = spark.createDataFrame(data, EVENT_SCHEMA)
    parsed = parse_message_stream(events_to_messages(events, records_per_message=3))
    got = {
        r.event_id: (r.ts, r.user_id, r.event_type, r.value) for r in parsed.collect()
    }
    want = {e: (ts, u, et, float(v)) for e, ts, u, et, v, _ in data}
    assert got == want


@SPARK_SETTINGS
@given(rows=events_strategy)
def test_latest_per_key_idempotent_property(spark, rows):
    """latest_per_key twice == once, and one row per key survives."""
    from structured_streaming_cassandra_sink_spark.plans.flagship import latest_per_key

    data = [(e, ts, u, et, float(v), None) for e, ts, u, et, v in rows]
    events = spark.createDataFrame(data, EVENT_SCHEMA)
    once = latest_per_key(events, "user_id", ["ts", "event_id"])
    twice = latest_per_key(once, "user_id", ["ts", "event_id"])
    got_once = sorted((r.user_id, r.event_id) for r in once.collect())
    got_twice = sorted((r.user_id, r.event_id) for r in twice.collect())
    assert got_once == got_twice
    assert len(got_once) == len({u for _, _, u, _, _, _ in data})


@SPARK_SETTINGS
@given(
    state=st.dictionaries(                            # key -> (ts, payload)
        st.integers(min_value=0, max_value=12),
        st.tuples(st.integers(min_value=0, max_value=4), st.text(max_size=3)),
        min_size=1,
        max_size=10,
    ),
    fresh=st.lists(                                   # (key, ts, payload); keys repeat
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=4),    # small ts grid: ties on ts
            st.text(max_size=3),
        ),
        min_size=1,
        max_size=16,
    ),
    replays=st.lists(st.integers(min_value=0, max_value=9), max_size=4),
)
def test_upsert_merge_equals_latest_per_key_property(spark, tmp_path_factory, state, fresh,
                                                     replays):
    """The upsert sink's merge over a key-unique state == latest_per_key
    over state ∪ batch, row for row, when batch keys repeat, some batch
    rows replay state rows verbatim, and ts ties break on event_id; with
    no state it == latest_per_key over the batch alone."""
    import os

    from structured_streaming_cassandra_sink_spark.plans.flagship import latest_per_key
    from structured_streaming_cassandra_sink_spark.streaming.sinks import _state_merger

    schema = "k int, ts int, event_id int, payload string"
    state_rows = [(k, ts, i, pl) for i, (k, (ts, pl)) in enumerate(sorted(state.items()))]
    batch_rows = [(k, ts, len(state_rows) + i, pl) for i, (k, ts, pl) in enumerate(fresh)]
    batch_rows += [state_rows[i % len(state_rows)] for i in replays]
    state_dir = os.path.join(str(tmp_path_factory.mktemp("upsert")), "state")
    spark.createDataFrame(state_rows, schema).write.parquet(state_dir)
    batch = spark.createDataFrame(batch_rows, schema)

    order = ["ts", "event_id"]
    merge = _state_merger("k", order)
    first = sorted(tuple(r) for r in merge(batch, None).collect())
    assert first == sorted(tuple(r) for r in latest_per_key(batch, "k", order).collect())
    got = sorted(tuple(r) for r in merge(batch, state_dir).collect())
    union = spark.read.parquet(state_dir).unionByName(batch)
    want = sorted(tuple(r) for r in latest_per_key(union, "k", order).collect())
    assert got == want
    latest = {}
    for row in state_rows + batch_rows:
        if row[0] not in latest or row[1:3] > latest[row[0]][1:3]:
            latest[row[0]] = row
    assert got == sorted(latest.values())


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@SPARK_SETTINGS
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=25),
            st.integers(min_value=0, max_value=25),
        ).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=30,
    )
)
def test_connected_components_property(spark, edges):
    """Distributed min-label propagation == driver-side union-find."""
    from structured_streaming_cassandra_sink_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.comp for r in connected_components(df).collect()}
    assert got == _union_find_components(edges)


def test_topk_is_sort_prefix(spark, sf_dir):
    """top-k rows == first k rows of the full sort (deterministic
    tie-break included)."""
    from structured_streaming_cassandra_sink_spark.sources import load_table

    li = load_table(spark, "lineitem", sf_dir)
    k = 10
    topk = (
        li.orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber"))
        .limit(k)
        .collect()
    )
    full = li.orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    ).collect()
    assert [r.l_orderkey for r in topk] == [r.l_orderkey for r in full[:k]]


def test_dedup_exact_idempotent(spark, sf_dir):
    """Deduping an already-deduped corpus is the identity."""
    from structured_streaming_cassandra_sink_spark.functions.textfns import fingerprint
    from structured_streaming_cassandra_sink_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir)
    kept = (
        docs.withColumn("fp", fingerprint(F.col("text")))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    again = kept.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    assert kept.count() == again.count()
    assert kept.exceptAll(again).count() == 0


def test_time_rollup_partials_merge(spark, sf_dir):
    """Algebraic-aggregate property behind time_rollup's incremental-
    refresh claim: rollup partials computed on disjoint halves, unioned
    and re-summed, equal the whole-table rollup at every grouping level."""
    from structured_streaming_cassandra_sink_spark.sources import load_table

    e = load_table(spark, "events", sf_dir).select(
        "event_id",
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day_ts"),
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        "value",
    )

    def rollup_raw(df):
        return df.rollup("event_type", "day_ts", "hour_ts").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv")
        )

    full = rollup_raw(e)
    merged = (
        rollup_raw(e.filter(F.col("event_id") % 2 == 0))
        .unionByName(rollup_raw(e.filter(F.col("event_id") % 2 == 1)))
        .groupBy("event_type", "day_ts", "hour_ts")
        .agg(F.sum("n").alias("n"), F.sum("tv").alias("tv"))
    )
    key = lambda r: (r.event_type, r.day_ts, r.hour_ts)
    want = {key(r): (r.n, round(r.tv, 4)) for r in full.collect()}
    got = {key(r): (r.n, round(r.tv, 4)) for r in merged.collect()}
    assert got == want


def test_negative_sample_shape_and_determinism(spark, sf_dir):
    """negative_sample: exactly NEG_K partners per anchor, never self,
    all partners exist, and a second run is byte-identical (RNG-free)."""
    from structured_streaming_cassandra_sink_spark.operators.curation import NEG_K, negative_sample
    from structured_streaming_cassandra_sink_spark.sources import load_table

    rows = negative_sample(spark, sf_dir).collect()
    doc_ids = {
        r.doc_id for r in load_table(spark, "documents", sf_dir).select("doc_id").collect()
    }
    per_anchor: dict[int, int] = {}
    for r in rows:
        assert r.neg_id != r.doc_id
        assert r.neg_id in doc_ids
        per_anchor[r.doc_id] = per_anchor.get(r.doc_id, 0) + 1
    assert set(per_anchor.values()) == {NEG_K}
    assert set(per_anchor) == doc_ids
    again = negative_sample(spark, sf_dir).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_lm_score_is_log_probability(spark, sf_dir):
    """Bigram MLE log-probs are <= 0 everywhere (c_xy <= c_x by
    construction), and every doc with >= 2 tokens gets a score."""
    from structured_streaming_cassandra_sink_spark.operators.text import lm_score
    from structured_streaming_cassandra_sink_spark.functions.textfns import tokens
    from structured_streaming_cassandra_sink_spark.sources import load_table

    rows = lm_score(spark, sf_dir).collect()
    assert all(r.avg_logprob <= 0 for r in rows)
    n_docs = (
        load_table(spark, "documents", sf_dir)
        .filter(F.size(tokens(F.col("text"))) >= 2)
        .count()
    )
    assert len(rows) == n_docs


def test_gap_fill_spine_is_dense_and_filled(spark, sf_dir):
    """Every hour between a type's min and max is present exactly once,
    and forward-fill leaves no nulls (the first spine row is an observed
    hour by construction)."""
    from structured_streaming_cassandra_sink_spark.plans import registry

    registry.load_all()
    out = registry.QUERIES["gap_fill"](spark, sf_dir).collect()
    by_type: dict[str, list] = {}
    for r in out:
        by_type.setdefault(r.event_type, []).append(r)
        assert r.filled_rate is not None, r
    for rows in by_type.values():
        hours = sorted(r.hour_ts for r in rows)
        assert len(set(hours)) == len(hours)
        span = int((hours[-1] - hours[0]).total_seconds() // 3600) + 1
        assert len(hours) == span, (hours[0], hours[-1], len(hours))


def test_running_distinct_matches_count_distinct(spark, sf_dir):
    """The final cumulative value equals the global COUNT(DISTINCT) and
    the series is strictly increasing (new_users >= 1 per emitted day)."""
    from structured_streaming_cassandra_sink_spark.plans import registry
    from structured_streaming_cassandra_sink_spark.sources import load_table

    registry.load_all()
    rows = sorted(
        registry.QUERIES["running_distinct"](spark, sf_dir).collect(),
        key=lambda r: r.day_ts,
    )
    total = (
        load_table(spark, "events", sf_dir).select("user_id").distinct().count()
    )
    assert rows[-1].cum_users == total
    acc = 0
    for r in rows:
        assert r.new_users >= 1
        acc += r.new_users
        assert r.cum_users == acc


def test_winnow_pairs_detect_planted_copy(spark):
    """The SIGMOD'03 guarantee, end to end: a >= k+w-1 = 35-char copied
    span must produce a shared fingerprint between the two docs, and
    unrelated random-ish docs share none at k=20."""
    from structured_streaming_cassandra_sink_spark.operators.text import (
        PAIR_WINNOW_K,
        PAIR_WINNOW_W,
        winnow_fingerprints,
    )

    span = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [
            (1, "intro words before. " + span + " and some trailing text."),
            (2, "completely different opening here. " + span + " closing."),
            (3, "nothing in common with either of those two documents at all,"
                " this one talks about spark physical plans and shuffles."),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs, PAIR_WINNOW_K, PAIR_WINNOW_W)
    sets = {
        r["doc_id"]: set(x["fingerprint"] for x in fp.filter(F.col("doc_id") == r["doc_id"]).collect())
        for r in docs.select("doc_id").collect()
    }
    assert sets[1] & sets[2], "copied span must share a fingerprint"
    assert not (sets[1] & sets[3])
    assert not (sets[2] & sets[3])


def test_source_entropy_bounds(spark, sf_dir):
    """0 <= H <= log2(n_langs), with H == 0 iff a single language."""
    import math

    from structured_streaming_cassandra_sink_spark.plans import registry

    registry.load_all()
    for r in registry.QUERIES["source_entropy"](spark, sf_dir).collect():
        assert 0.0 <= r.lang_entropy <= math.log2(max(r.n_langs, 2)) + 1e-9, r
        if r.n_langs == 1:
            assert r.lang_entropy == 0.0


def test_udtf_matches_catalyst_split(spark, sf_dir):
    """The UDTF sentence splitter and the pure-Catalyst split+posexplode
    formulation produce identical rows — the parity that justifies
    'UDTF only when imperative logic demands it'."""
    from structured_streaming_cassandra_sink_spark.plans import registry
    from structured_streaming_cassandra_sink_spark.sources import load_table

    registry.load_all()
    via_udtf = registry.QUERIES["udtf_sentence_split"](spark, sf_dir)
    d = load_table(spark, "documents", sf_dir)
    via_catalyst = d.select(
        "doc_id",
        F.posexplode(F.split("text", r"\. ", -1)).alias("sent_idx", "sent"),
    ).select(
        "doc_id",
        F.col("sent_idx").cast("int").alias("sent_idx"),
        F.length("sent").cast("int").alias("n_sent_chars"),
    )
    assert via_udtf.exceptAll(via_catalyst).count() == 0
    assert via_catalyst.exceptAll(via_udtf).count() == 0


def test_anomaly_rolling_z_warmup_and_selfexclusion(spark, sf_dir):
    """Warm-up rows (frame < min obs) must carry NULL zscore; anomalies
    are a small minority; no row is compared against itself (a constant
    series scores z=0-ish, never NaN)."""
    from structured_streaming_cassandra_sink_spark.plans import registry

    registry.load_all()
    rows = registry.QUERIES["anomaly_rolling_z"](spark, sf_dir).collect()
    assert any(r.zscore is None for r in rows)          # warm-up exists
    scored = [r for r in rows if r.zscore is not None]
    assert scored, "some rows must be scored"
    frac = sum(1 for r in scored if r.is_anomaly) / len(scored)
    assert frac < 0.05, frac


def test_zorder_key_decodes_exactly(spark, sf_dir):
    """Every emitted zval decodes back to exactly its (partkey, suppkey)
    low bits — the interleave is a bijection on the masked domain (the
    property that makes min/max pruning sound in both dimensions)."""
    from structured_streaming_cassandra_sink_spark.operators.relational import ZORDER_BITS
    from structured_streaming_cassandra_sink_spark.plans import registry

    rows = registry.QUERIES["zorder_cluster"](spark, sf_dir).collect()
    assert rows
    mask = (1 << ZORDER_BITS) - 1
    for r in rows:
        x = y = 0
        for i in range(ZORDER_BITS):
            x |= ((r.zval >> (2 * i)) & 1) << i
            y |= ((r.zval >> (2 * i + 1)) & 1) << i
        assert x == (r.l_partkey & mask), r
        assert y == (r.l_suppkey & mask), r


def test_gaps_islands_partitions_active_days(spark, sf_dir):
    """Streaks are a PARTITION of each user's active days: their lengths
    sum to the distinct-day count, ranges don't overlap, and consecutive
    streaks are separated by at least one inactive day (else they'd be
    one streak)."""
    from pyspark.sql import functions as F

    from structured_streaming_cassandra_sink_spark.plans import registry
    from structured_streaming_cassandra_sink_spark.sources import load_table

    streaks = registry.QUERIES["gaps_islands"](spark, sf_dir).collect()
    events = load_table(spark, "events", sf_dir)
    want_days = {
        r.user_id: r.n
        for r in events.select("user_id", F.col("ts").cast("date").alias("d"))
        .groupBy("user_id")
        .agg(F.countDistinct("d").alias("n"))
        .collect()
    }
    by_user = {}
    for r in streaks:
        by_user.setdefault(r.user_id, []).append(r)
        assert (r.streak_end - r.streak_start).days + 1 == r.streak_days, r
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r.streak_start)
        assert sum(r.streak_days for r in rs) == want_days[uid], uid
        for a, b in zip(rs, rs[1:]):
            assert (b.streak_start - a.streak_end).days >= 2, (uid, a, b)


def test_mixture_interleave_blends_sources(spark, sf_dir):
    """Reading docs in interleave_key order blends sources: within the
    first quarter of the curriculum every source is already represented
    in at least half its sqrt-proportional share (a loose bound — block
    ordering would give some source ZERO early rows); and re-running
    produces the identical assignment (RNG-free)."""
    import math

    from structured_streaming_cassandra_sink_spark.plans import registry

    q = registry.QUERIES["mixture_interleave"]
    rows = sorted(
        q(spark, sf_dir).collect(), key=lambda r: (r.interleave_key, r.doc_id)
    )
    again = sorted(
        q(spark, sf_dir).collect(), key=lambda r: (r.interleave_key, r.doc_id)
    )
    assert [(r.doc_id, r.interleave_key) for r in rows] == [
        (r.doc_id, r.interleave_key) for r in again
    ]
    n = len(rows)
    sizes = {}
    for r in rows:
        sizes[r.source] = sizes.get(r.source, 0) + 1
    wtot = sum(math.sqrt(c) for c in sizes.values())
    prefix = rows[: n // 4]
    seen = {}
    for r in prefix:
        seen[r.source] = seen.get(r.source, 0) + 1
    for src, c in sizes.items():
        expected = len(prefix) * math.sqrt(c) / wtot
        assert seen.get(src, 0) >= expected / 2, (src, seen.get(src), expected)


def test_mg_sketch_chunking_invariant():
    """Misra-Gries state update: whatever the micro-batch chunking, the
    final counters lower-bound true counts and every key with true count
    > total/(k+1) survives (the mergeability the streaming op relies
    on). Pure-pandas unit test — no Spark session."""
    import pandas as pd

    from structured_streaming_cassandra_sink_spark.streaming.stateful import HH_K, _mg_update

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    data = [i % 17 for i in range(500)] + [3] * 200 + [5] * 120
    true = {}
    for u in data:
        true[u] = true.get(u, 0) + 1
    total = len(data)
    for chunks in (1, 3, 7, 50):
        state = FakeState()
        step = max(1, len(data) // chunks)
        out = None
        for i in range(0, len(data), step):
            pdf = pd.DataFrame({"user_id": data[i : i + step]})
            out = list(_mg_update((0,), iter([pdf]), state))[-1]
        got = dict(zip(out["user_id"], out["count_lb"]))
        assert out["shard_total"].iloc[0] == total
        for u, lb in got.items():
            assert lb <= true[u], (chunks, u)
        for u, c in true.items():
            if c > total / (HH_K + 1):
                assert u in got, (chunks, u)


def test_asof_join_matches_bruteforce(spark):
    """The generic asof_join helper against a per-row brute force on
    adversarial data: duplicate timestamps on both sides, right ties
    (resolved via right_tie), keys with no match, exact-equality ties
    (inclusive semantics)."""
    import datetime as dt

    from structured_streaming_cassandra_sink_spark.operators.timeseries import asof_join

    base = dt.datetime(2024, 1, 1)

    def ts(minutes):
        return base + dt.timedelta(minutes=minutes)

    # deterministic pseudo-random layout, incl. equal-ts collisions
    left = [(k, ts((7 * i + k) % 40), i) for k in (1, 2, 3) for i in range(12)]
    right = [
        (k, ts(m), rid, float(k * 100 + m + (rid % 3)))
        for k in (1, 2)            # key 3 has NO right rows
        for rid, m in enumerate([0, 5, 5, 10, 20, 20, 20, 35])
    ]
    ldf = spark.createDataFrame(left, "k int, lts timestamp, lid int")
    rdf = spark.createDataFrame(right, "k int, rts timestamp, rid int, val double")
    got = {
        (r.k, r.lid): r.val
        for r in asof_join(
            ldf, rdf, key="k", left_ts="lts", right_ts="rts",
            value_cols=["val"], right_tie="rid",
        ).collect()
    }
    for k, lts, lid in left:
        cands = [(rts, rid, val) for (rk, rts, rid, val) in right if rk == k and rts <= lts]
        want = max(cands)[2] if cands else None  # max (rts, rid) wins
        assert got[(k, lid)] == want, (k, lid, got[(k, lid)], want)


@SPARK_SETTINGS
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),   # price grid (small: force ties)
            st.integers(min_value=0, max_value=12),   # size grid
        ),
        min_size=1,
        max_size=40,
    )
)
def test_skyline_pareto_property(spark, tmp_path_factory, pts):
    """Two-pass distributed frontier == brute-force dominance filter,
    including duplicate points and all-ties grids."""
    import os

    from structured_streaming_cassandra_sink_spark.operators.windows import skyline_pareto

    td = str(tmp_path_factory.mktemp("sky"))
    df = spark.createDataFrame(
        [(i, float(p), s) for i, (p, s) in enumerate(pts)],
        "p_partkey long, p_retailprice double, p_size int",
    )
    df.write.mode("overwrite").parquet(os.path.join(td, "part.parquet"))
    got = sorted(
        (r.p_partkey, r.p_retailprice, r.p_size)
        for r in skyline_pareto(spark, td).collect()
    )

    def dominated(a, b):
        return b[0] <= a[0] and b[1] >= a[1] and (b[0] < a[0] or b[1] > a[1])

    want = sorted(
        (i, float(p), s)
        for i, (p, s) in enumerate(pts)
        if not any(dominated((p, s), q) for q in pts)
    )
    assert got == want
