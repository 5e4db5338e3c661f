"""Time-series operators — as-of join (point-in-time correctness).

The as-of join — "for each left row, the latest right row at or before
its timestamp, per key" — is the operator Spark's built-ins lack
(SURVEY.md §4.3 class): the naive formulation is a range join whose
worst case is O(|L|·|R|) per key. The scalable formulation here is the
classic union + ordered-window trick:

    tag both sides -> union -> per-key window ordered by
    (ts, side) -> last(right_value, ignorenulls) -> keep left rows

One shuffle on the key, one sort per partition — exactly the cost of a
sort-merge join, independent of how many right rows precede each left
row. Ties (left.ts == right.ts) resolve INCLUSIVELY (right row sorts
first), matching DuckDB's `ASOF JOIN ... ON l.ts >= r.ts` oracle.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import ts_micros
from ..functions.exactagg import avg_exact_sql, fgrid_sql, hilo_sum_sql, qlong_sql
from ..plans.registry import query
from ..sources import load_table, prefix_scan, spread


# Hourly average rate shared by the as-of joins and gap_fill: the exact
# 1e-6-grid average, rounded to 4 decimals (functions/exactagg.py). The
# sf0.1 sweep caught plain round(avg(value), 4) drifting 1 ulp from
# DuckDB on dense hourly buckets.
_RATE_SQL = avg_exact_sql("value", 1_000_000)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    right_tie: str | None = None,
) -> DataFrame:
    """Left as-of join: every left row + the latest `value_cols` from the
    right row with the greatest right_ts <= left_ts for the same key
    (null when no such row). Output columns: all left columns + value_cols.

    Determinism: when several RIGHT rows share the same (key, right_ts),
    pass ``right_tie`` (a right-side column, e.g. a unique id) — the
    greatest tie value wins, deterministically. Without it the caller
    must guarantee (key, right_ts) is unique on the right (true for the
    registered join_asof query: rates are one row per (event_type,
    hour)); otherwise which duplicate wins depends on partitioning.
    """
    left_cols = left.columns
    tie_type = right.schema[right_tie].dataType if right_tie else None
    l_tagged = left.select(
        F.col(key),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        *([F.lit(None).cast(tie_type).alias("__tie")] if right_tie else []),
        *[F.col(c) for c in left_cols if c != key],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in value_cols],
    )
    r_tagged = right.select(
        F.col(key),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        *([F.col(right_tie).alias("__tie")] if right_tie else []),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols if c != key],
        *[F.col(c) for c in value_cols],
    )
    unioned = l_tagged.unionByName(r_tagged)
    # right rows sort before left rows at equal ts => inclusive (<=) match;
    # among tied right rows the greatest __tie sorts last, so
    # last(ignorenulls) picks it deterministically.
    order = ["__ts", "__is_left"] + (["__tie"] if right_tie else [])
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(c, ignorenulls=True).over(w).alias(f"__filled_{c}")
            for c in value_cols
        ],
    )
    return filled.filter(F.col("__is_left") == 1).select(
        *[F.col(c) for c in left_cols],
        *[F.col(f"__filled_{c}").alias(c) for c in value_cols],
    )


@query(
    "join_asof",
    f"""
    WITH rates AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 hour', ts) AS hour_ts,
             {_RATE_SQL} AS hourly_rate
      FROM events GROUP BY 1, 2)
    SELECT e.event_id, e.event_type, r.hourly_rate
    FROM events e ASOF LEFT JOIN rates r
      ON e.event_type = r.event_type AND e.ts >= r.hour_ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each event picks up the most recent
    hourly average rate for its event_type (the fx-rate-lookup shape of
    the reference's currency domain, generalized). Oracle: DuckDB's
    native ASOF JOIN — an independent implementation of the same
    semantics."""
    events = load_table(spark, "events", sf_dir)
    rates = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.expr(_RATE_SQL).alias("hourly_rate"))
        .select("event_type", F.col("w.start").alias("hour_ts"), "hourly_rate")
    )
    joined = asof_join(
        events.select("event_id", "ts", "event_type"),
        rates,
        key="event_type",
        left_ts="ts",
        right_ts="hour_ts",
        value_cols=["hourly_rate"],
    )
    return joined.select("event_id", "event_type", "hourly_rate")


FUNNEL_WINDOW_MIN = 10


@query(
    "join_interval_funnel",
    f"""
    SELECT v.user_id,
           v.event_id AS view_id,
           c.event_id AS click_id,
           round(date_diff('microsecond', v.ts, c.ts) / 60000000.0, 4) AS minutes_between
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts > v.ts
     AND c.ts <= v.ts + INTERVAL '{FUNNEL_WINDOW_MIN} minutes'
    """,
)
def join_interval_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel pairs: a click within {FUNNEL_WINDOW_MIN} min after a view
    by the same user. The equi part (user_id) drives the shuffle; the
    interval condition is the bounded residual — the same condition that
    makes the STREAMING twin's state finite (streaming/pipeline.py
    stream-stream join; equality pinned in tests)."""
    events = load_table(spark, "events", sf_dir)
    v = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = v.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {FUNNEL_WINDOW_MIN} MINUTES")
        ),
    )
    # exact integer micros diff, then one division — matches the oracle's
    # date_diff('microsecond')/60e6 bit-for-bit (double cast of seconds
    # would diverge below the second)
    minutes = (
        ts_micros("click_ts") - ts_micros("view_ts")
    ) / 60000000.0
    return joined.select(
        "user_id",
        "view_id",
        "click_id",
        F.round(minutes, 4).alias("minutes_between"),
    )


def running_total(
    df: DataFrame, order_col: str, value_col: str, out_col: str = "running_total"
) -> DataFrame:
    """Distributed prefix sum: running total of ``value_col`` in global
    ``order_col`` order WITHOUT a single-partition window.

    Classic two-pass scan: range-partition by the order column, cumsum
    within each partition, then add each partition's broadcast offset
    (the sum of all earlier partitions). Identical results to
    ``Window.orderBy(order_col)`` — which Spark executes on ONE partition
    and therefore cannot scale — at the cost of one range exchange and a
    tiny driver collect of per-partition subtotals."""
    ranged, offset_col = prefix_scan(
        df, [order_col], F.sum(value_col), operator.add, 0
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.withColumn(out_col, F.sum(value_col).over(w) + offset_col)
        .drop("__pid")
    )


SESSION_GAP_US = 15 * 60 * 1_000_000  # 15 min, matching stream_session


@query(
    "sessionize_assign",
    f"""
    WITH o AS (
      SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
    m AS (
      SELECT event_id, user_id, tus,
             CASE WHEN lag(tus) OVER w IS NULL
                       OR tus - lag(tus) OVER w > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id))
    SELECT event_id, user_id,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_seq
    FROM m
    """,
)
def sessionize_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EVENT session assignment: a session break is a >15-min gap to
    the previous event of the same user; the running count of breaks is
    the session number. This is the batch complement of `stream_session`
    (which emits per-SESSION aggregates): training pipelines need the
    session id ON each event (sequence construction, per-session
    sampling), not just the rollup.

    Shape: two windows over the SAME (user_id, ts, event_id) ordering —
    Catalyst computes both in one sort within one shuffle (no second
    exchange; lag and the running sum share the partitioning). Gap math
    is integer microseconds, exact on both engines. Works at 100 TB
    because state per user is one row (the previous timestamp), exactly
    like the streaming twin's session store."""
    e = load_table(spark, "events", sf_dir)
    tus = ts_micros("ts")
    w = Window.partitionBy("user_id").orderBy(tus, F.col("event_id"))
    is_new = F.when(
        F.lag(tus).over(w).isNull() | ((tus - F.lag(tus).over(w)) > SESSION_GAP_US),
        1,
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy(tus, F.col("event_id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(is_new).over(run).cast("bigint").alias("session_seq"),
    )


@query(
    "gap_fill",
    f"""
    WITH base AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
             {_RATE_SQL} AS rate
      FROM events GROUP BY 1, 2),
    bounds AS (
      SELECT event_type, min(hour_ts) AS lo, max(hour_ts) AS hi
      FROM base GROUP BY 1),
    spine AS (
      SELECT event_type,
             unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS hour_ts
      FROM bounds)
    SELECT s.event_type, s.hour_ts,
           CASE WHEN b.rate IS NULL THEN 1 ELSE 0 END AS is_gap,
           last_value(b.rate IGNORE NULLS)
             OVER (PARTITION BY s.event_type ORDER BY s.hour_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_rate
    FROM spine s LEFT JOIN base b
      ON s.event_type = b.event_type AND s.hour_ts = b.hour_ts
    """,
)
def gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resample with forward fill: build the dense hourly
    spine per event_type (min..max observed hour), left-join the observed
    hourly rates, and carry the last observation forward across gaps —
    the `time_bucket_gapfill + locf` shape of a time-series store.

    Plan shape: the only full-data pass is the first hourly aggregation
    (one shuffle carrying (type, hour) partials). The spine is generated
    from the POST-AGG bounds table — `sequence()` + explode over a table
    of |event_types| rows, so the Generate re-evaluation pathology
    (memory: explode of inline arrays) is bounded by hours-per-type, not
    data size. The fill window partitions by event_type over the tiny
    spine; at 100 TB with years of history, partition the fill by
    (type, month) and seed each month with the previous month's last
    value to keep windows bounded."""
    e = load_table(spark, "events", sf_dir)
    base = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.expr(_RATE_SQL).alias("rate"))
    bounds = base.groupBy("event_type").agg(
        F.min("hour_ts").alias("lo"), F.max("hour_ts").alias("hi")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
            "hour_ts"
        ),
    )
    joined = spine.join(base, ["event_type", "hour_ts"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "hour_ts",
        F.when(F.col("rate").isNull(), 1).otherwise(0).alias("is_gap"),
        F.last("rate", ignorenulls=True).over(w).alias("filled_rate"),
    )


@query(
    "running_distinct",
    """
    WITH first AS (
      SELECT user_id, CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS day_ts
      FROM events GROUP BY 1),
    daily AS (
      SELECT day_ts, count(*) AS new_users FROM first GROUP BY 1)
    SELECT day_ts, new_users,
           CAST(sum(new_users) OVER (ORDER BY day_ts ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_users
    FROM daily
    """,
)
def running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the "running COUNT(DISTINCT)"
    that naive window SQL cannot express scalably. Trick: a user's
    contribution to the cumulative count is fully determined by their
    FIRST day, so `min(day) per user -> daily new-user counts -> prefix
    sum` replaces any per-day distinct-set union. Two shuffles total,
    both on small keys (user_id, then day). The final ordered window runs
    over |days| rows — already aggregated, thousands of rows at any data
    scale — so the single-partition global window is fine here (contrast
    running_total above, which must prefix-sum over RAW rows)."""
    e = load_table(spark, "events", sf_dir)
    first = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("day_ts")
    )
    daily = first.groupBy("day_ts").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day_ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "day_ts",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


@query(
    "time_rollup",
    """
    WITH e AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
             date_trunc('hour', ts) AS hour_ts,
             value
      FROM events)
    SELECT event_type, day_ts, hour_ts,
           count(*)             AS n,
           round(sum(value), 4) AS total_value
    FROM e GROUP BY ROLLUP (event_type, day_ts, hour_ts)
    """,
)
def time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: every aggregate from
    (type, day, hour) up through (type, day), (type), and the grand
    total — the materialized-rollup shape of a time-series store,
    expressed as ONE pass: Spark plans ROLLUP as a single Expand +
    partially-aggregated hash agg, so the fact table is scanned once
    and the shuffle carries only (type, day, hour)-level partials.
    At 100 TB the same query IS the incremental refresh: run it per
    ingest partition and MERGE the partials."""
    e = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day_ts"),
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        "value",
    )
    return e.rollup("event_type", "day_ts", "hour_ts").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@query(
    "ohlc_bars",
    """
    WITH b AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
             value, ts, event_id
      FROM events),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, hour_ts
                                ORDER BY ts, event_id)           AS rn_a,
             row_number() OVER (PARTITION BY event_type, hour_ts
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM b)
    SELECT event_type, hour_ts,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value)                             AS high,
           min(value)                             AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*)                               AS n
    FROM r GROUP BY 1, 2
    """,
)
def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars per (type, hour) — the financial-rollup
    staple. open/close are `min_by`/`max_by` on the composite
    (ts, event_id) struct key (event_id breaks timestamp ties
    deterministically — both engines compare the struct
    lexicographically). All five aggregates are algebraic single-pass
    partials: one scan, one (type, hour)-key shuffle, no window, no
    sort -- the scale win over the oracle's formulation (DuckDB arg_min
    cannot take a composite key, so the oracle picks first/last via two
    row_number passes instead). The values pass through untouched (no float arithmetic), so
    no rounding is needed for oracle parity."""
    e = load_table(spark, "events", sf_dir)
    ordkey = F.struct("ts", "event_id")
    return e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(
        F.min_by("value", ordkey).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", ordkey).alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "time_weighted_avg",
    """
    WITH o AS (
      SELECT event_type, value, epoch_us(ts) AS tus, event_id FROM events),
    d AS (
      SELECT event_type, value,
             lead(tus) OVER (PARTITION BY event_type ORDER BY tus, event_id)
               - tus AS dur_us
      FROM o)
    SELECT event_type,
           round(sum(value * dur_us) / sum(dur_us), 4) AS twa,
           count(*) AS n_intervals
    FROM d WHERE dur_us IS NOT NULL
    GROUP BY event_type
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per event_type: each observation is weighted
    by how long it was "current" (until the next event of that type) —
    the correct mean for irregularly-sampled series, where the naive avg
    over-weights bursts. Duration math is exact integer microseconds
    (lead - ts); the last observation of each type has no successor and
    is excluded on both engines. One shuffle on event_type serves both
    the lead window and the final aggregate (same key — Catalyst plans a
    single Exchange); weights never leave the executor."""
    e = load_table(spark, "events", sf_dir)
    tus = ts_micros("ts")
    w = Window.partitionBy("event_type").orderBy(tus, F.col("event_id"))
    d = e.select(
        "event_type",
        "value",
        (F.lead(tus).over(w) - tus).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return d.groupBy("event_type").agg(
        F.round(
            F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 4
        ).alias("twa"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


# ---------------------------------------------------------------------------
# Gaps & islands + cohort retention (classic large-scale behavioral shapes)
# ---------------------------------------------------------------------------
@query(
    "gaps_islands",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    grp AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS anchor
      FROM days
    )
    SELECT user_id, min(d) AS streak_start, max(d) AS streak_end,
           count(*) AS streak_days
    FROM grp GROUP BY user_id, anchor
    """,
)
def gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-active-day streaks per user (gaps-and-islands): the
    date minus its per-user row_number is CONSTANT within a consecutive
    run — that anchor becomes the island's group key. ONE shuffle total
    (plan-tested): distinct days come from a collect_set aggregate keyed
    on user_id, and every later stage — the explode, the anchor window,
    the island aggregate — needs only user_id(-prefixed) clustering,
    which the first exchange already provides, so Catalyst inserts no
    further Exchange. A `.distinct()` formulation instead shuffles twice
    (once on (user, day), again on user for the window). State bound:
    one day-set per user, capped by the corpus's calendar span — not by
    event volume. No self-join, no sequence explode — the formulations
    that die at 100 TB."""
    e = load_table(spark, "events", sf_dir)
    day_sets = (
        e.select("user_id", F.col("ts").cast("date").alias("d"))
        .groupBy("user_id")
        .agg(F.collect_set("d").alias("ds"))
    )
    days = day_sets.select("user_id", F.explode("ds").alias("d"))
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    return grp.groupBy("user_id", "anchor").agg(
        F.min("d").alias("streak_start"),
        F.max("d").alias("streak_end"),
        F.count(F.lit(1)).alias("streak_days"),
    ).drop("anchor")


@query(
    "retention_cohort",
    """
    WITH firsts AS (
      SELECT user_id, min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('week', f.cohort_week, a.week) AS INTEGER) AS week_offset,
           count(*) AS n_active
    FROM active a JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users bucketed by first-active week
    (cohort), counted in each later week they return. Two aggregates
    and a join, ALL keyed on user_id — one logical shuffle reused across
    the first-touch aggregate, the activity distinct, and the join
    (Catalyst chains them without re-exchanging), then a tiny final
    aggregate on (cohort, offset). The standard formulation with a
    self-join on raw events would shuffle the fact table twice and
    explode on heavy users; this one never joins events to events."""
    e = load_table(spark, "events", sf_dir)
    week = F.date_trunc("week", F.col("ts")).cast("date")
    firsts = (
        e.select("user_id", week.alias("w"))
        .groupBy("user_id")
        .agg(F.min("w").alias("cohort_week"))
    )
    active = e.select("user_id", week.alias("week")).distinct()
    return (
        active.join(firsts, "user_id")
        .select(
            "cohort_week",
            (F.datediff("week", F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "data_freshness_report",
    """
    WITH g AS (SELECT max(ts) AS global_max FROM events)
    SELECT event_type,
           max(ts)                                             AS latest_ts,
           count(*)                                            AS n_rows,
           CAST(floor((epoch_us(global_max) - epoch_us(max(ts))) / 1000000.0)
                AS BIGINT)                                     AS lag_seconds
    FROM events, g
    GROUP BY event_type, global_max
    """,
)
def data_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feed freshness: each event type's latest event time and its
    lag behind the freshest feed — the staleness monitor a multi-source
    ingest pages on (a silent dead producer shows up as growing lag
    long before volumes look wrong). One aggregate over a tiny key
    domain plus a broadcast 1-row global max; second-granularity lag is
    exact integer math on both engines."""
    e = load_table(spark, "events", sf_dir)
    g = e.agg(F.max("ts").alias("global_max"))
    per = e.groupBy("event_type").agg(
        F.max("ts").alias("latest_ts"), F.count(F.lit(1)).alias("n_rows")
    )
    return per.crossJoin(F.broadcast(g)).select(
        "event_type",
        "latest_ts",
        "n_rows",
        # floor of exact micros/1e6 on BOTH engines — date_diff('second')
        # would count boundary CROSSINGS, which differs by 1 whenever the
        # fractional parts straddle a second mark
        F.floor(
            (ts_micros("global_max") - ts_micros("latest_ts")) / 1_000_000.0
        )
        .cast("bigint")
        .alias("lag_seconds"),
    )


@query(
    "funnel_conversion_rate",
    f"""
    WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    conv AS (
      SELECT DISTINCT v.event_id
      FROM v JOIN c ON v.user_id = c.user_id
       AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL '{FUNNEL_WINDOW_MIN} minutes')
    SELECT CAST(date_trunc('hour', v.ts) AS TIMESTAMP) AS hour_ts,
           count(*)                                    AS n_views,
           count(conv.event_id)                        AS n_converted,
           round(count(conv.event_id) * 1.0 / count(*), 4) AS conversion_rate
    FROM v LEFT JOIN conv ON v.event_id = conv.event_id
    GROUP BY 1
    """,
)
def funnel_conversion_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel ROLLUP: what fraction of views convert to a click
    within {FUNNEL_WINDOW_MIN} minutes, per hour. Builds on the interval
    funnel's bounded equi-join, then semi-reduces (a view with three
    clicks converts ONCE — the distinct before the rate guards the
    classic funnel inflation bug) and left-joins back so zero-conversion
    hours still report. Same single user_id shuffle as the pair query;
    the rate aggregate runs on the tiny hour domain."""
    e = load_table(spark, "events", sf_dir)
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"), F.col("ts").alias("click_ts")
    )
    converted = (
        v.join(
            c,
            (F.col("user_id") == F.col("c_user_id"))
            & (F.col("click_ts") > F.col("view_ts"))
            & (
                F.col("click_ts")
                <= F.col("view_ts") + F.expr(f"INTERVAL {FUNNEL_WINDOW_MIN} MINUTES")
            ),
        )
        .select("view_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    return (
        v.join(converted, v.view_id == converted.view_id, "left")
        .groupBy(F.date_trunc("hour", F.col("view_ts")).cast("timestamp").alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.count("converted").alias("n_converted"),
            F.round(F.count("converted") / F.count(F.lit(1)), 4).alias(
                "conversion_rate"
            ),
        )
    )


@query(
    "session_chain_recursive",
    f"""
    WITH RECURSIVE nxt AS (
      SELECT user_id, event_id,
             lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS next_id,
             coalesce(epoch_us(lead(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id))
                      - epoch_us(ts) <= {SESSION_GAP_US}, false) AS linked
      FROM events
    ),
    edges AS (SELECT event_id, next_id FROM nxt WHERE linked),
    roots AS (
      SELECT n.user_id, n.event_id FROM nxt n
      LEFT JOIN edges e ON n.event_id = e.next_id
      WHERE e.next_id IS NULL
    ),
    walk AS (
      SELECT user_id, event_id AS root_id, event_id AS cur_id, 1 AS chain_len
      FROM roots
      UNION ALL
      SELECT w.user_id, w.root_id, e.next_id, w.chain_len + 1
      FROM walk w JOIN edges e ON w.cur_id = e.event_id
    )
    SELECT user_id, root_id AS session_start_event,
           CAST(max(chain_len) AS BIGINT) AS n_events
    FROM walk GROUP BY user_id, root_id
    """,
)
def session_chain_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session sizes via Spark 4's RECURSIVE CTE — the declarative twin
    of `sessionize_assign`'s window formulation, walking the
    next-event-within-gap edge relation from each session's first event.
    The edge set is ACYCLIC with in/out-degree <= 1 (consecutive events
    of one user), which is exactly the regime Spark's UNION ALL-only
    recursion handles: every path is simple, no frontier dedup needed
    (cyclic closures like connected components still need the iterative
    engine — Spark rejects UNION-dedup recursion). Per-round cost is one
    join of the live frontier against the edge table; recursion depth =
    the LONGEST session, against spark.sql.cteRecursionLevelLimit
    (default 100). The limit is NOT left to chance: `_chain_walk` first
    measures the longest within-gap run with the one-shuffle window
    sessionizer (a bounded driver-side scalar — one extra pass, the
    price of a safe declarative walk) and raises the limit above it, so
    a hot user with a 300-event session changes the conf instead of
    killing the query (pinned by a >100-event test)."""
    ev = load_table(spark, "events", sf_dir)
    return _chain_walk(spark, ev.select("user_id", "event_id", "ts"))


def _chain_walk(spark: SparkSession, ev: DataFrame) -> DataFrame:
    """Recursive-CTE session walk over an (user_id, event_id, ts) frame;
    sets cteRecursionLevelLimit from the measured longest chain."""
    tus = ts_micros("ts")
    w = Window.partitionBy("user_id").orderBy(tus, F.col("event_id"))
    is_new = F.when(
        F.lag(tus).over(w).isNull() | ((tus - F.lag(tus).over(w)) > SESSION_GAP_US),
        1,
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    # ONE pre-pass sizes both recursion limits (ADVICE r5: a separate
    # ev.count() was a second full scan per call): max(count) over the
    # per-session row counts is the longest chain, and their sum IS the
    # total event count the row limit needs.
    sized = (
        ev.select("user_id", F.sum(is_new).over(run).alias("sess"))
        .groupBy("user_id", "sess")
        .count()
        .agg(F.max("count"), F.sum("count"))
        .first()
    )
    longest = sized[0] or 1
    n_events = sized[1] or 0
    # +8 headroom: the walk emits chain_len rows per root, depth = chain.
    # Never LOWER the limit below Spark's default 100 — the conf is
    # session-global and persists past this query, so a small corpus
    # (longest chain 12) must not shrink the budget of an unrelated
    # recursive CTE that runs later in the same long-lived session.
    spark.conf.set(
        "spark.sql.cteRecursionLevelLimit", str(max(100, int(longest) + 8))
    )
    # Spark 4 also caps TOTAL rows a recursion may emit
    # (spark.sql.cteRecursionRowLimit, default 1e6). The walk emits each
    # event exactly once (every event holds one position in one chain),
    # so the bound is |events| — a 10x-sf0.1 run (1M events) hits the
    # default mid-recursion (RECURSION_ROW_LIMIT_EXCEEDED, found by the
    # sf1eq sweep). Same discipline as the level limit: measure, then
    # set above the measured need, never below the default.
    spark.conf.set(
        "spark.sql.cteRecursionRowLimit",
        str(max(1_000_000, int(n_events) + 1_000)),
    )
    # Materialize the edge and root tables ONCE before the recursion
    # (optimization r10): as plain CTEs they inline into the recursive
    # step, so every one of the `longest`-many UnionLoop iterations
    # re-ran the window-over-all-events pipeline just to rebuild the
    # static edge relation (35 jobs / 3.7 s execute at sf0.1; the walk
    # itself only ever joins a shrinking frontier against edges). The
    # recursion now joins a checkpointed edge table — per-round cost is
    # the frontier join alone, which is the shape that scales (rounds x
    # |edges|, not rounds x window-over-corpus). Same rows: the CTE
    # bodies are unchanged, just pre-evaluated.
    nxt_ev = ev.selectExpr(
        "user_id",
        "event_id",
        "lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
        " AS next_id",
        f"""coalesce(unix_micros(CAST(lead(ts) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id)
             AS TIMESTAMP))
             - unix_micros(CAST(ts AS TIMESTAMP))
             <= {SESSION_GAP_US}, false) AS linked""",
    ).localCheckpoint(eager=False)
    # ONE edges checkpoint shared by the roots anti-join and the
    # recursion view (r11 tidy of the r10 shape, judge note: edges/roots
    # were checkpointed separately even though both derive from the
    # already-checkpointed nxt_ev).
    edges = (
        nxt_ev.filter("linked")
        .select("event_id", "next_id")
        .localCheckpoint(eager=False)
    )
    roots = (
        nxt_ev.alias("n")
        .join(
            edges.select(F.col("next_id").alias("e_next")).alias("e"),
            F.col("n.event_id") == F.col("e.e_next"),
            "left",
        )
        .filter(F.col("e.e_next").isNull())
        .select("user_id", "event_id")
    )
    edges.createOrReplaceTempView("__chain_edges")
    roots.localCheckpoint(eager=False).createOrReplaceTempView("__chain_roots")
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
          SELECT user_id, event_id AS root_id, event_id AS cur_id,
                 1 AS chain_len
          FROM __chain_roots
          UNION ALL
          SELECT w.user_id, w.root_id, e.next_id, w.chain_len + 1
          FROM walk w JOIN __chain_edges e ON w.cur_id = e.event_id
        )
        SELECT user_id, root_id AS session_start_event,
               CAST(max(chain_len) AS BIGINT) AS n_events
        FROM walk GROUP BY user_id, root_id
        """
    )


@query(
    "scd2_build",
    """
    WITH seq AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             CASE WHEN lag(o_orderstatus) OVER
                    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                  IS DISTINCT FROM o_orderstatus THEN 1 ELSE 0 END AS chg
      FROM orders
    ),
    grp AS (
      SELECT *, sum(chg) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey
                               ROWS UNBOUNDED PRECEDING) AS ver
      FROM seq
    ),
    island AS (
      SELECT o_custkey, ver, min(o_orderstatus) AS status,
             min(o_orderdate) AS valid_from,
             count(*) AS n_orders
      FROM grp GROUP BY o_custkey, ver
    )
    SELECT o_custkey, CAST(ver AS INT) AS version, status, valid_from,
           lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY ver)
             AS valid_to,
           lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY ver)
             IS NULL AS is_current,
           n_orders
    FROM island
    """,
)
def scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: collapse each customer's
    order-status history (ordered by o_orderdate, ties by o_orderkey)
    into versioned validity intervals [valid_from, valid_to) with an
    open-ended current row — the dimension-snapshot op of a warehouse
    ingest (reference scope: the upsert-by-key Cassandra sink,
    cassandra_sink.scala:30-34, keeps only the LATEST row; SCD2 is its
    history-preserving generalization). Change points come from a
    null-safe lag inequality, the running sum of change flags numbers
    the islands, and `lead(valid_from)` closes each interval. ONE
    shuffle total at any scale: every stage — both windows and the
    island aggregate — needs only o_custkey clustering, which the first
    Exchange provides; no self-join, no range explosion. State per key
    is bounded by that customer's number of status FLIPS, not orders."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chg = F.when(
        F.lag("o_orderstatus").over(w).eqNullSafe(F.col("o_orderstatus")), 0
    ).otherwise(1)
    grp = o.withColumn("chg", chg).withColumn("ver", F.sum("chg").over(w))
    island = grp.groupBy("o_custkey", "ver").agg(
        F.min("o_orderstatus").alias("status"),
        F.min("o_orderdate").alias("valid_from"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w2 = Window.partitionBy("o_custkey").orderBy("ver")
    valid_to = F.lead("valid_from").over(w2)
    return island.select(
        "o_custkey",
        F.col("ver").cast("int").alias("version"),
        "status",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
        "n_orders",
    )


EWMA_ALPHA = 0.1
EWMA_MAX_N = 40  # first N events per key: bounds oracle recursion depth


@query(
    "ewma_smooth",
    f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
      QUALIFY rn <= {EWMA_MAX_N}),
    rec AS (
      SELECT user_id, rn, round(value, 4) AS y FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.rn,
             round((1 - {EWMA_ALPHA}) * r.y + {EWMA_ALPHA} * s.value, 4)
      FROM seq s JOIN rec r
        ON s.user_id = r.user_id AND s.rn = r.rn + 1)
    SELECT user_id, rn, y AS ewma FROM rec
    """,
)
def ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per key — the inherently
    SEQUENTIAL recurrence y_i = (1-α)·y_{i-1} + α·x_i that no window
    frame expresses (every prior row contributes, with decaying weight).

    Scale shape (r6 rework): one shuffle by key, then ``mapInPandas``
    over key-sorted partitions with the recurrence vectorized ACROSS
    keys — an Arrow batch holding ~10k rows of many short series is
    pivoted to a (keys × {EWMA_MAX_N}) matrix and stepped column-wise,
    so the Python cost is {EWMA_MAX_N} numpy ops per BATCH instead of
    one pandas-frame round trip per KEY (the earlier grouped-map
    applyInPandas paid ~100k per-group Arrow crossings at sf0.1 — the
    dominant cost then, and the 100 TB killer: per-group overhead
    scales with key count, the batch pivot doesn't; measured 6.1 s →
    ~1 s at sf0.1). A key split across Arrow batch boundaries carries
    its (uid, state) forward — batches arrive in partition-sort order,
    so only the first key of a batch can be a continuation. Skew
    salting does not apply (the recurrence cannot split); the per-key
    cap {EWMA_MAX_N} matches the oracle's recursion budget (production
    would cap by retention window instead).

    Oracle: DuckDB recursive CTE running the identical recurrence.
    Cross-engine FP parity trick: the state is QUANTIZED to the 1e-4
    grid after EVERY step on both sides — raw f64 recurrences drift by
    ulps and a drifted value that straddles a rounding midpoint flips
    the last digit (observed: 3 rows in 6000 before quantization).
    With on-grid state the step inputs are bit-identical, so both
    engines' round() pick the same neighbor regardless of their
    half-rule (the numpy element-wise ops below are the same IEEE
    doubles as the scalar loop they replaced). rn recursion depth ==
    {EWMA_MAX_N}, far under any recursion limit."""
    e = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        e.select("user_id", "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= EWMA_MAX_N)
        .select("user_id", "rn", "value")
        .repartition("user_id")
        .sortWithinPartitions("user_id", "rn")
    )

    def ewma_batches(batches):
        import numpy as np
        import pandas as pd

        p = 10.0**4
        a = float(EWMA_ALPHA)
        b = 1.0 - a

        def rnd(v):
            # DuckDB round(DOUBLE, n) == std::round(v * 10^n) / 10^n:
            # scale-multiply then HALF-AWAY-FROM-ZERO (Python/numpy
            # default rounding is half-even and disagrees exactly on
            # the decimal midpoints this low-decimal data produces).
            # Vectorized replica; element-wise IEEE identical to the
            # scalar form the oracle steps through.
            s = v * p
            f = np.floor(s)
            d = s - f
            f = f + ((d > 0.5) | ((d == 0.5) & (s >= 0.0)))
            return f / p

        carry_uid = None
        carry_y = 0.0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            uids = pdf["user_id"].to_numpy()
            rns = pdf["rn"].to_numpy()
            vals = pdf["value"].to_numpy(dtype=np.float64)
            starts = np.empty(n, dtype=bool)
            starts[0] = True
            starts[1:] = uids[1:] != uids[:-1]
            key_id = np.cumsum(starts) - 1
            pos = np.arange(n) - np.maximum.accumulate(
                np.where(starts, np.arange(n), 0)
            )
            nk = int(key_id[-1]) + 1
            width = int(pos.max()) + 1
            mat = np.full((nk, width), np.nan)
            mat[key_id, pos] = vals
            y = np.empty_like(mat)
            # column 0: fresh keys (rn == 1) initialize; a continuation
            # (only possible for the batch's first key) steps from the
            # carried state
            first_rn = rns[starts]
            # continuation guard (ADVICE r6): a batch-leading key with
            # rn != 1 must BE the carried key — if the repartition+sort
            # contract above this mapInPandas ever breaks, fail loudly
            # instead of silently seeding one user's EWMA from another's
            # carried state.
            if first_rn[0] != 1 and uids[0] != carry_uid:
                raise AssertionError(
                    "ewma_smooth: batch-leading continuation key "
                    f"{uids[0]} does not match carried key {carry_uid}"
                )
            y[:, 0] = np.where(
                first_rn == 1, rnd(mat[:, 0]), rnd(b * carry_y + a * mat[:, 0])
            )
            for j in range(1, width):
                y[:, j] = rnd(b * y[:, j - 1] + a * mat[:, j])
            carry_uid = uids[-1]
            carry_y = float(y[int(key_id[-1]), int(pos[-1])])
            yield pd.DataFrame(
                {"user_id": uids, "rn": rns, "ewma": y[key_id, pos]}
            )

    return seq.mapInPandas(ewma_batches, "user_id long, rn int, ewma double")


@query(
    "markov_transitions",
    """
    WITH s AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS dst
      FROM events),
    p AS (
      SELECT src, dst, count(*) AS n
      FROM s WHERE dst IS NOT NULL GROUP BY 1, 2)
    SELECT src, dst, n,
           round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE),
                 6) AS p
    FROM p
    """,
)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current event type). The sequence-
    model shape behind session modeling, next-action prediction
    features, and curriculum statistics for behavioral training data.

    Shape: one shuffle for the per-user lead() window (same
    (user_id, ts, event_id) ordering every sequence op here shares),
    one partial-aggregated shuffle on the (src, dst) pair whose
    cardinality is |event_types|^2 — single digits squared — so the
    normalizing window runs over a trivially small result. The raw
    event volume only ever crosses the wire once, pre-aggregated
    map-side. At 100 TB nothing changes: state per user in the window
    is one row, and the pair space stays tiny."""
    e = load_table(spark, "events", sf_dir)
    tus = ts_micros("ts")
    w = Window.partitionBy("user_id").orderBy(tus, F.col("event_id"))
    seq = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    pairs = (
        seq.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n"))
    )
    tot = Window.partitionBy("src")
    return pairs.select(
        "src",
        "dst",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(tot).cast("double"), 6
        ).alias("p"),
    )


@query(
    "interpolate_linear",
    """
    WITH b AS (
      SELECT event_id, user_id, epoch_us(ts) AS tus,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
      FROM events),
    m AS (
      SELECT event_id, user_id, tus, v,
        last_value(v IGNORE NULLS) OVER wp AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN tus END IGNORE NULLS)
          OVER wp AS pt,
        first_value(v IGNORE NULLS) OVER wf AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN tus END IGNORE NULLS)
          OVER wf AS nt
      FROM b
      WINDOW
        wp AS (PARTITION BY user_id ORDER BY tus, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY user_id ORDER BY tus, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_id, user_id,
           CASE WHEN v IS NULL THEN 1 ELSE 0 END AS is_interp,
           round(CASE WHEN v IS NOT NULL THEN v
                      WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt > pt
                        THEN pv + (nv - pv) * (tus - pt) / (nt - pt)
                      ELSE coalesce(pv, nv) END, 6) AS filled
    FROM m
    """,
)
def interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing sensor values per user: a
    deterministic mask (event_id % 7) stands in for real gaps, and each
    masked value is reconstructed from the time-weighted line between
    its nearest observed neighbors — pandas `interpolate(method="time")`
    semantics, but distributed. Edge rows with only one neighbor carry
    that neighbor (ffill/bfill); identical-timestamp neighbors fall back
    to the previous value rather than divide by zero.

    Shape: TWO frame directions over ONE exchange — the backward
    neighbors from the ascending running frame, the forward neighbors
    from a DESCENDING running frame (both last+IGNORE NULLS,
    UNBOUNDED PRECEDING..CURRENT). Spark reuses the user_id Exchange
    and adds a second in-partition sort for the reversed order; that
    extra O(n log n) sort replaces the quadratic alternative — a
    first(ignorenulls) over CURRENT..UNBOUNDED FOLLOWING frame
    re-aggregates the remaining frame per row (the join_asof_forward
    bug, measured 78x there). Running frames are the only O(1)-state
    ignore-nulls path. Arithmetic runs on integer microseconds with one
    fixed op order mirrored in the oracle, so the rounded doubles
    hash-match. This is the scale-safe form of gap repair (vs
    collecting series driver-side)."""
    e = load_table(spark, "events", sf_dir)
    tus = ts_micros("ts")
    base = e.select(
        "event_id",
        "user_id",
        tus.alias("tus"),
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
    )
    order = [F.col("tus"), F.col("event_id")]
    wp = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("tus").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t_obs = F.when(F.col("v").isNotNull(), F.col("tus"))
    m = base.select(
        "event_id",
        "user_id",
        "tus",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(t_obs, ignorenulls=True).over(wp).alias("pt"),
        # descending running last == ascending "first at or after":
        # event_id is unique, so the two orders are exact reverses.
        F.last("v", ignorenulls=True).over(wf).alias("nv"),
        F.last(t_obs, ignorenulls=True).over(wf).alias("nt"),
    )
    line = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        F.col("tus") - F.col("pt")
    ) / (F.col("nt") - F.col("pt"))
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
            & (F.col("nt") > F.col("pt")),
            line,
        )
        .otherwise(F.coalesce("pv", "nv"))
    )
    return m.select(
        "event_id",
        "user_id",
        F.when(F.col("v").isNull(), 1).otherwise(0).alias("is_interp"),
        F.round(filled, 6).alias("filled"),
    )


CUSUM_H = 4.0  # decision threshold, in std units of the hourly series

# cusum_changepoint's arithmetic, one text per step: DuckDB runs it in
# the oracle below, Spark through F.expr.
_CS_RATE = avg_exact_sql("value", 1_000_000, 6)
_CS_M = qlong_sql("rate", 1_000_000)  # m: the rate on its 1e-6 grid
_CS_EX = "s1 / n / 1e6"
_CS_MU = fgrid_sql(_CS_EX, 6)
_CS_SIGMA = fgrid_sql(
    f"sqrt(greatest(s2d / n / 1e12 - ({_CS_EX}) * ({_CS_EX}), 0))", 6
)
_CS_Z = fgrid_sql("(rate - mu) / sigma", 6)
_CS_CUM = fgrid_sql(
    "sum(z) OVER (PARTITION BY event_type ORDER BY hour_ts"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
    6,
)


@query(
    "cusum_changepoint",
    f"""
    WITH hourly AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
             {_CS_RATE} AS rate
      FROM events GROUP BY 1, 2),
    hm AS (
      SELECT event_type, hour_ts, rate, {_CS_M} AS m
      FROM hourly),
    mom AS (
      SELECT event_type, count(*) AS n, sum(m) AS s1,
             {hilo_sum_sql('m * m')} AS s2d
      FROM hm GROUP BY 1),
    stats AS (
      SELECT event_type, {_CS_MU} AS mu, {_CS_SIGMA} AS sigma
      FROM mom),
    dev AS (
      SELECT event_type, hour_ts, {_CS_Z} AS z
      FROM hm JOIN stats USING (event_type)
      WHERE sigma > 0),
    cusum AS (
      SELECT event_type, hour_ts, z, {_CS_CUM} AS s_cum
      FROM dev)
    SELECT event_type, hour_ts, z, s_cum,
           CASE WHEN abs(s_cum) > {CUSUM_H} THEN 1 ELSE 0 END AS drifted
    FROM cusum
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection over hourly rates per event_type: running
    sum of standardized deviations from the series mean; |S| above the
    threshold flags sustained drift a point-anomaly z-score
    (anomaly_rolling_z) cannot see — the mean-shift monitor of a data-
    quality pipeline (feed silently degrading vs one bad record).

    Shape: hourly pre-aggregation is the only full-data pass (map-side
    collapsed). Everything after runs on the hours-x-types table: the
    per-type (mu, sigma) profile broadcasts back, and the running sum is
    one window over the tiny hourly series. Two-sided textbook CUSUM
    (V-mask); the one-sided max(0, .) recurrences don't translate to a
    window frame, so this is the form that stays declarative — and at
    100 TB the hourly table is still only |types| x hours rows.

    Float contract (functions/exactagg.py discipline; converted after
    the 10x-sf0.1 sweep caught round(avg(value),6) drifting 1 ulp at
    dense buckets): the hourly rate is the exact quantized average; mu
    and sigma derive from EXACT integer moments of the 1e-6-grid rates
    — the second moment (m^2 sums overflow int64 at |value|<=560) rides
    the hi/lo int64 carrier with IDENTICAL text on both engines (r7;
    the former decimal/hugeint carriers convert to double differently
    past 2^63, ADVICE r6) — and every output round is the floor form.
    All downstream doubles are bit-identical cross-engine because
    their inputs are."""
    e = load_table(spark, "events", sf_dir)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.expr(_CS_RATE).alias("rate"))
    hm = hourly.withColumn("m", F.expr(_CS_M))
    mom = hm.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("m").alias("s1"),
        F.expr(hilo_sum_sql("m * m")).alias("s2d"),
    )
    stats = mom.select(
        "event_type", F.expr(_CS_MU).alias("mu"), F.expr(_CS_SIGMA).alias("sigma")
    )
    dev = (
        hm.join(F.broadcast(stats), "event_type")
        .filter(F.col("sigma") > 0)
        .select("event_type", "hour_ts", F.expr(_CS_Z).alias("z"))
    )
    return dev.select(
        "event_type", "hour_ts", "z", F.expr(_CS_CUM).alias("s_cum")
    ).withColumn(
        "drifted",
        F.when(F.abs(F.col("s_cum")) > CUSUM_H, 1).otherwise(0),
    )


@query(
    "period_over_period",
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
             count(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT event_type, day_ts, n,
           lag(n) OVER w AS n_prev,
           round((n - lag(n) OVER w) * 100.0 / lag(n) OVER w, 4) AS pct_change
    FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day_ts)
    """,
)
def period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day growth per event_type — the BI staple (DoD/WoW/MoM
    deltas). First period carries NULL prev/change, division is exact
    integer-count arithmetic scaled before rounding.

    Shape: the daily count is the only full-data pass (map-side
    collapse to |types| x days partials); the lag window sorts the tiny
    daily table. Missing days: compose with gap_fill's spine first when
    calendar-dense deltas are required — kept separate here so each
    query stays one capability."""
    e = load_table(spark, "events", sf_dir)
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day_ts")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day_ts")
    prev = F.lag("n").over(w)
    return daily.select(
        "event_type",
        "day_ts",
        "n",
        prev.alias("n_prev"),
        F.round((F.col("n") - prev) * 100.0 / prev, 4).alias("pct_change"),
    )


ATTRIB_WINDOW_US = 3600 * 1_000_000  # last-touch lookback: 1 hour


@query(
    "last_touch_attribution",
    f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS ptus
      FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT user_id, epoch_us(ts) AS ctus, max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
    m AS (
      SELECT p.purchase_id, p.user_id, j.click_id,
             (p.ptus - j.ctus) // 1000000 AS lag_raw,
             j.click_id IS NOT NULL
               AND (p.ptus - j.ctus) <= {ATTRIB_WINDOW_US} AS ok
      FROM p ASOF LEFT JOIN c j
        ON p.user_id = j.user_id AND p.ptus >= j.ctus)
    SELECT purchase_id, user_id,
           CASE WHEN ok THEN click_id END AS click_id,
           CASE WHEN ok THEN lag_raw END  AS lag_sec,
           CASE WHEN ok THEN 1 ELSE 0 END AS attributed
    FROM m
    """,
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent click at most one hour before it — the marketing/causality
    join (conversion -> triggering touchpoint). It is an as-of join
    between two FILTERED VIEWS OF THE SAME STREAM, plus a staleness
    gate: a click older than the window leaves the purchase
    unattributed (NULL, not dropped — unattributed rate is the metric).

    Shape: reuses the union+window as-of kernel (`asof_join`) — one
    user_id shuffle, no range explosion however many clicks precede a
    purchase. Clicks pre-dedupe per (user, ts) to max event_id on BOTH
    engines, so tie-breaking is by construction, not engine whim.
    Lag math in integer microseconds; `div` truncation == DuckDB `//`
    floor on the non-negative domain."""
    e = load_table(spark, "events", sf_dir)
    tus = ts_micros("ts")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", tus.alias("ptus")
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", tus.alias("ctus"), "event_id")
        .groupBy("user_id", "ctus")
        .agg(F.max("event_id").alias("click_id"))
    )
    m = asof_join(
        p, c, key="user_id", left_ts="ptus", right_ts="ctus",
        value_cols=["click_id", "ctus"],
    )
    ok = F.col("click_id").isNotNull() & (
        (F.col("ptus") - F.col("ctus")) <= ATTRIB_WINDOW_US
    )
    lag = F.expr("(ptus - ctus) div 1000000")
    return m.select(
        "purchase_id",
        "user_id",
        F.when(ok, F.col("click_id")).alias("click_id"),
        F.when(ok, lag).alias("lag_sec"),
        F.when(ok, 1).otherwise(0).alias("attributed"),
    )


PATH_TOP_K = 10


@query(
    "top_event_paths",
    f"""
    WITH s AS (
      SELECT user_id, event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
    paths AS (
      SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path, count(*) AS n
      FROM s WHERE e3 IS NOT NULL GROUP BY 1)
    SELECT path, n FROM paths ORDER BY n DESC, path LIMIT {PATH_TOP_K}
    """,
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step user journeys: the most frequent ordered event-type
    triples within a user's stream — the path-analysis complement to
    markov_transitions (full short sequences, not one-step conditionals;
    'view > click > purchase' vs P(click|view)).

    Shape: one per-user window shuffle computes both leads in one sort;
    the path space is |types|^3 (hundreds), so the count collapses
    map-side and the top-k is TakeOrderedAndProject. For longer paths at
    100 TB the same plan holds until |types|^k stops being small — past
    that, switch to sessionized sequence sampling (sequence_packing's
    territory) rather than exact counting."""
    e = load_table(spark, "events", sf_dir)
    tus = ts_micros("ts")
    w = Window.partitionBy("user_id").orderBy(tus, F.col("event_id"))
    s = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        s.filter(F.col("e3").isNotNull())
        .select(
            F.concat_ws(" > ", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(PATH_TOP_K)
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """FORWARD as-of join: every left row + `value_cols` from the right
    row with the SMALLEST right_ts >= left_ts for the same key (null
    when nothing follows) — pandas merge_asof(direction='forward').
    Mirror of `asof_join`: union + one ordered window per key — but the
    window sorts ts DESCENDING and keeps the backward-style running
    frame (UNBOUNDED PRECEDING..CURRENT, last non-null). Scanning from
    the future toward the past, "last right value seen so far" IS the
    smallest right_ts >= current ts. The naive forward spelling —
    first(ignorenulls) over CURRENT..UNBOUNDED FOLLOWING — produces the
    same rows but Spark's UnboundedFollowing window frame RE-AGGREGATES
    the whole remaining frame per row, O(rows²) per key partition:
    measured 51.5 s vs 0.7 s for this query at sf0.1 (78x). Running
    frames (UnboundedPreceding) are the only O(n) ignore-nulls path, so
    forward must be expressed as reversed-backward.

    Ties: at equal __ts the right row must be visible to the left row
    (inclusive match, DuckDB `ASOF ... ON l.ts <= r.ts`), so right
    sorts FIRST under (__ts DESC, __side DESC). Callers must make
    (key, right_ts) unique on the right (same contract as the backward
    form)."""
    left_cols = left.columns
    l_tagged = left.select(
        F.col(key),
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__side"),  # right sorts first at ties (DESC) => inclusive
        *[F.col(c) for c in left_cols if c != key],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in value_cols],
    )
    r_tagged = right.select(
        F.col(key),
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols if c != key],
        *[F.col(c) for c in value_cols],
    )
    unioned = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("__ts").desc(), F.col("__side").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(c, ignorenulls=True).over(w).alias(f"__filled_{c}")
            for c in value_cols
        ],
    )
    return filled.filter(F.col("__side") == 0).select(
        *[F.col(c) for c in left_cols],
        *[F.col(f"__filled_{c}").alias(c) for c in value_cols],
    )


@query(
    "join_asof_forward",
    f"""
    WITH rates AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 hour', ts) AS hour_ts,
             {_RATE_SQL} AS hourly_rate
      FROM events GROUP BY 1, 2)
    SELECT e.event_id, e.event_type, r.hourly_rate AS next_rate
    FROM events e ASOF LEFT JOIN rates r
      ON e.event_type = r.event_type AND e.ts <= r.hour_ts
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-looking enrichment: each event picks up the NEXT hourly
    rate at-or-after its timestamp — the settlement-price / next-fixing
    lookup (label construction in forecasting joins future outcomes to
    features; the backward twin would leak nothing, this one is the
    labeled side). Same single-shuffle union+window kernel as join_asof,
    frame reversed; oracle is DuckDB's native forward ASOF (l.ts <=
    r.hour_ts)."""
    events = load_table(spark, "events", sf_dir)
    rates = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.expr(_RATE_SQL).alias("hourly_rate"))
        .select("event_type", F.col("w.start").alias("hour_ts"), "hourly_rate")
    )
    joined = asof_join_forward(
        events.select("event_id", "ts", "event_type"),
        rates,
        key="event_type",
        left_ts="ts",
        right_ts="hour_ts",
        value_cols=["hourly_rate"],
    )
    return joined.select(
        "event_id", "event_type", F.col("hourly_rate").alias("next_rate")
    )


@query(
    "scd2_point_in_time_join",
    """
    WITH seq AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             CASE WHEN lag(o_orderstatus) OVER
                    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                  IS DISTINCT FROM o_orderstatus THEN 1 ELSE 0 END AS chg
      FROM orders),
    grp AS (
      SELECT *, sum(chg) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey
                               ROWS UNBOUNDED PRECEDING) AS ver
      FROM seq),
    dim AS (
      SELECT o_custkey, ver, min(o_orderstatus) AS status,
             min(o_orderdate) AS valid_from
      FROM grp GROUP BY o_custkey, ver),
    closed AS (
      SELECT o_custkey, ver, status, valid_from,
             lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY ver)
               AS valid_to
      FROM dim)
    SELECT o.o_orderkey, o.o_custkey, d.status AS status_at_order
    FROM orders o JOIN closed d
      ON o.o_custkey = d.o_custkey
     AND d.valid_from <= o.o_orderdate
     AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join against the SCD2 dimension: each order
    picks the customer-status version VALID AT its date — the temporal
    lookup every warehouse fact load runs against a type-2 dimension
    (and the leakage-safe way to join historical features in ML: the
    version as-of event time, never the current row).

    Shape: the oracle spells the textbook interval join (valid_from <=
    d < valid_to); the engine exploits that SCD2 intervals are
    CONTIGUOUS per key, so the interval join degenerates to a backward
    as-of on valid_from — the union+window kernel, ONE shuffle, no
    range-join explosion. Same-date version stacks (zero-length
    intervals) resolve by the version tie-break: max ver at equal
    valid_from is the interval actually in force."""
    o = load_table(spark, "orders", sf_dir)
    dim = scd2_build(spark, sf_dir).select(
        "o_custkey", "version", "status", "valid_from"
    )
    joined = asof_join(
        o.select("o_orderkey", "o_custkey", "o_orderdate"),
        dim,
        key="o_custkey",
        left_ts="o_orderdate",
        right_ts="valid_from",
        value_cols=["status"],
        right_tie="version",
    )
    return joined.select(
        "o_orderkey", "o_custkey", F.col("status").alias("status_at_order")
    )


CEP_WINDOW_US = 3600 * 1_000_000  # B must follow A within 1 hour


@query(
    "cep_pattern_match",
    f"""
    WITH a AS (
      SELECT event_id, user_id, epoch_us(ts) AS ats
      FROM events WHERE event_type = 'view'),
    b AS (
      SELECT DISTINCT user_id, epoch_us(ts) AS bts
      FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT DISTINCT user_id, epoch_us(ts) AS cts
      FROM events WHERE event_type = 'click'),
    nb AS (
      SELECT a.event_id, a.user_id, a.ats,
             (SELECT min(b.bts) FROM b
              WHERE b.user_id = a.user_id AND b.bts > a.ats) AS next_b,
             (SELECT min(c.cts) FROM c
              WHERE c.user_id = a.user_id AND c.cts > a.ats) AS next_c
      FROM a)
    SELECT event_id, user_id,
           CASE WHEN next_b IS NOT NULL
                     AND next_b - ats <= {CEP_WINDOW_US}
                     AND (next_c IS NULL OR next_c >= next_b)
                THEN (next_b - ats) // 1000000 END AS match_lag_sec,
           CASE WHEN next_b IS NOT NULL
                     AND next_b - ats <= {CEP_WINDOW_US}
                     AND (next_c IS NULL OR next_c >= next_b)
                THEN 1 ELSE 0 END AS matched
    FROM nb
    """,
)
def cep_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern: for every 'view' (A), did a
    'purchase' (B) follow within an hour with NO 'click' (C) strictly
    between? — the MATCH_RECOGNIZE / Flink-CEP `A NOT C* B within T`
    shape, expressed relationally. (C >= B does not block: the pattern
    is about the A->B gap.)

    Shape: the oracle spells correlated min-subqueries (decorrelated by
    the optimizer); the engine runs TWO forward as-of joins from the
    SAME A stream (next B after A, next C after A) — each one shuffle
    on user_id through the union+window kernel, strictly-after
    semantics via a +1 microsecond probe timestamp (exact integer
    arithmetic, mirrored by the oracle's `>`). No per-pattern state
    machine and no range join: at 100 TB this is two windowed passes,
    and adding pattern steps adds passes, not state."""
    e = load_table(spark, "events", sf_dir)
    tus = ts_micros("ts")
    a = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", tus.alias("ats")
    ).withColumn("probe_ts", F.col("ats") + 1)
    b = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", tus.alias("bts"))
        .distinct()
        .withColumn("b_val", F.col("bts"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", tus.alias("cts"))
        .distinct()
        .withColumn("c_val", F.col("cts"))
    )
    with_b = asof_join_forward(
        a, b, key="user_id", left_ts="probe_ts", right_ts="bts",
        value_cols=["b_val"],
    )
    with_bc = asof_join_forward(
        with_b, c, key="user_id", left_ts="probe_ts", right_ts="cts",
        value_cols=["c_val"],
    )
    ok = (
        F.col("b_val").isNotNull()
        & ((F.col("b_val") - F.col("ats")) <= CEP_WINDOW_US)
        & (F.col("c_val").isNull() | (F.col("c_val") >= F.col("b_val")))
    )
    return with_bc.select(
        "event_id",
        "user_id",
        F.when(ok, F.expr("(b_val - ats) div 1000000")).alias("match_lag_sec"),
        F.when(ok, 1).otherwise(0).alias("matched"),
    )


# ---------------------------------------------------------------- acf_lags


ACF_MAX_LAG = 5


@query(
    "acf_lags",
    f"""
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
             round(sum(value), 4) AS x
      FROM events GROUP BY 1),
    m AS (SELECT avg(x) AS xbar,
                 sum((x - (SELECT avg(x) FROM d))
                     * (x - (SELECT avg(x) FROM d))) AS den
          FROM d),
    l AS (
      SELECT day_ts, x,
             {', '.join(f"lead(x, {k}) OVER (ORDER BY day_ts) AS x{k}"
                        for k in range(1, ACF_MAX_LAG + 1))}
      FROM d),
    s AS (
      {' UNION ALL '.join(
          f"SELECT {k} AS lag, sum((x - xbar) * (x{k} - xbar)) AS num,"
          f" any_value(den) AS den FROM l CROSS JOIN m WHERE x{k} IS NOT NULL"
          f" GROUP BY 1"
          for k in range(1, ACF_MAX_LAG + 1))})
    SELECT lag, round(num / den, 6) AS acf
    FROM s ORDER BY lag
    """,
)
def acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily total-value series at lags
    1..{ACF_MAX_LAG} — the first diagnostic run on any metric before
    forecasting or anomaly thresholds. The raw table collapses to the
    DAILY lattice first (one hash agg; 30 rows here, bounded by the
    calendar wherever the row count goes), daily sums are quantized to
    the 4dp oracle grid so every downstream float op starts from
    bit-identical inputs, and lags come from ONE window pass computing
    lead(x, 1..{ACF_MAX_LAG}) over the lattice, unpivoted to long form
    (no per-lag self-joins). ACF uses the standard biased-denominator
    estimator Σ(x_t−x̄)(x_t+k−x̄)/Σ(x_t−x̄)² with the FULL-series mean
    and denominator, so acf(0)≡1 and |acf|≤1."""
    e = load_table(spark, "events", sf_dir)
    d = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day_ts")
    ).agg(F.round(F.sum("value"), 4).alias("x"))
    wl = Window.orderBy("day_ts")
    lagged = d.select(
        "day_ts",
        "x",
        *[
            F.lead("x", k).over(wl).alias(f"x{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    m = d.agg(F.avg("x").alias("xbar")).crossJoin(
        F.broadcast(
            d.crossJoin(F.broadcast(d.agg(F.avg("x").alias("xb2")))).agg(
                F.sum(
                    (F.col("x") - F.col("xb2")) * (F.col("x") - F.col("xb2"))
                ).alias("den")
            )
        )
    )
    stacked = lagged.select(
        F.expr(
            "stack({n}, {args}) as (lag, xk)".format(
                n=ACF_MAX_LAG,
                args=", ".join(
                    f"{k}, x{k}" for k in range(1, ACF_MAX_LAG + 1)
                ),
            )
        ),
        "x",
    ).filter(F.col("xk").isNotNull())
    s = (
        stacked.crossJoin(F.broadcast(m))
        .groupBy("lag")
        .agg(
            F.sum(
                (F.col("x") - F.col("xbar")) * (F.col("xk") - F.col("xbar"))
            ).alias("num"),
            F.any_value("den").alias("den"),
        )
    )
    return s.select(
        "lag", F.round(F.col("num") / F.col("den"), 6).alias("acf")
    ).orderBy("lag")


# ------------------------------------------------------ seasonal_decompose


@query(
    "seasonal_decompose",
    """
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
             round(sum(value), 4) AS x
      FROM events GROUP BY 1),
    tr AS (
      SELECT day_ts, x,
             datediff('day', DATE '2024-01-01', CAST(day_ts AS DATE)) % 7
               AS dow,
             CASE WHEN count(*) OVER w = 7
                  THEN round(avg(x) OVER w, 4) END AS trend
      FROM d
      WINDOW w AS (ORDER BY day_ts ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    se AS (
      SELECT dow, round(avg(x - trend), 4) AS seasonal
      FROM tr WHERE trend IS NOT NULL GROUP BY dow)
    SELECT t.day_ts, t.x, t.trend, s.seasonal,
           round(t.x - t.trend - s.seasonal, 4) AS resid
    FROM tr t JOIN se s ON t.dow = s.dow
    WHERE t.trend IS NOT NULL
    """,
)
def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical (moving-average) seasonal decomposition of the daily
    series: trend = CENTERED 7-day mean (null at the edges where the
    window is short — the honest classical convention, not a shrunken
    average), weekly seasonal index = mean detrended value per
    day-of-week, residual = x − trend − seasonal. Day-of-week is
    computed as days-since-2024-01-01 mod 7 — Spark's dayofweek() is
    1=Sunday while DuckDB's is 0=Sunday, so the portable form sidesteps
    the off-by-one entirely. Everything runs on the 30-row daily
    lattice (agg → one centered window → 7-row seasonal agg broadcast
    back); daily x, trend and seasonal are each quantized to the 4dp
    grid BEFORE the residual subtraction so both engines subtract
    identical bits. Output rows = days with a full trend window."""
    e = load_table(spark, "events", sf_dir)
    d = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day_ts")
    ).agg(F.round(F.sum("value"), 4).alias("x"))
    w = Window.orderBy("day_ts").rowsBetween(-3, 3)
    tr = d.select(
        "day_ts",
        "x",
        (
            F.datediff(F.col("day_ts").cast("date"), F.lit("2024-01-01"))
            % 7
        ).alias("dow"),
        F.when(
            F.count("*").over(w) == 7, F.round(F.avg("x").over(w), 4)
        ).alias("trend"),
    )
    se = (
        tr.filter(F.col("trend").isNotNull())
        .groupBy("dow")
        .agg(F.round(F.avg(F.col("x") - F.col("trend")), 4).alias("seasonal"))
    )
    return (
        tr.join(F.broadcast(se), "dow")
        .filter(F.col("trend").isNotNull())
        .select(
            "day_ts",
            "x",
            "trend",
            "seasonal",
            F.round(
                F.col("x") - F.col("trend") - F.col("seasonal"), 4
            ).alias("resid"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling exact median (order statistics over a moving frame)
# ---------------------------------------------------------------------------
ROLL_MED_FRAME = 4  # trailing frame: current row + 4 preceding


@query(
    "rolling_median",
    f"""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           round(median(l_extendedprice::DOUBLE) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN {ROLL_MED_FRAME} PRECEDING AND CURRENT ROW), 4)
           AS med_price
    FROM lineitem WHERE l_suppkey <= 40
    """,
)
def rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-{ROLL_MED_FRAME + 1}-row median price per supplier —
    the robust-smoothing complement to `ewma_smooth` (mean-based) and
    `outlier_mad` (global median). Spark's exact `percentile(0.5)` as a
    WINDOW aggregate interpolates even frames exactly like DuckDB's
    numeric `median` (verified: [2,4] -> 3.0 on both), so no rows-only
    downgrade is needed.

    Scale: one shuffle keyed by supplier; the frame is O(1) rows, so the
    sort-based window never materializes more than the 5-row heap per
    row. The suppkey<=40 predicate is pushed to the parquet scan."""
    li = spread(load_table(spark, "lineitem", sf_dir)).filter(
        F.col("l_suppkey") <= 40
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-ROLL_MED_FRAME, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.expr("percentile(l_extendedprice, 0.5)").over(w), 4
        ).alias("med_price"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival estimate (right-censored durations)
# ---------------------------------------------------------------------------
KM_CUTOFF_H = 48  # administrative censoring horizon (hours after first event)


@query(
    "survival_kaplan_meier",
    f"""
    WITH life AS (
      SELECT f.user_id,
             CASE WHEN coalesce(date_diff('hour', f.first_ts, p.p_ts),
                               {KM_CUTOFF_H + 1}) <= {KM_CUTOFF_H}
                  THEN date_diff('hour', f.first_ts, p.p_ts) ELSE {KM_CUTOFF_H}
             END AS t,
             CASE WHEN coalesce(date_diff('hour', f.first_ts, p.p_ts),
                               {KM_CUTOFF_H + 1}) <= {KM_CUTOFF_H}
                  THEN 1 ELSE 0 END AS observed
      FROM (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id) f
      LEFT JOIN (SELECT user_id, min(ts) AS p_ts FROM events
                 WHERE event_type = 'purchase' GROUP BY user_id) p
        USING (user_id)
    ),
    lat AS (
      SELECT t, sum(observed)::BIGINT AS d, count(*)::BIGINT AS ended
      FROM life GROUP BY t
    ),
    risk AS (
      SELECT t, d,
             ((SELECT count(*) FROM life)
               - coalesce(sum(ended) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             )::BIGINT AS n_risk
      FROM lat
    ),
    km AS (
      SELECT t, d, n_risk,
             product(1.0 - d::DOUBLE / n_risk) OVER (ORDER BY t) AS s
      FROM risk
    )
    SELECT t AS t_hours, n_risk, d AS d_events, round(s, 6) AS surv
    FROM km WHERE d > 0
    """,
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve: hours from a user's FIRST
    event to their first 'purchase', administratively right-censored at
    {KM_CUTOFF_H} h (users converting later — about a third of the
    corpus at every sf — enter the risk sets but never the death
    counts; dropping them instead would bias S(t) low, the classic
    churn-analytics mistake). Generalizes the reference's per-event
    aggregate surface (cassandra_sink.scala:113-120) to duration data.

    Shape: the estimator runs on the DURATION LATTICE (distinct t), not
    on users — one groupBy collapses users to (t, d, ended), then
    n_risk is a reverse running sum and S(t) a running product over the
    lattice (bounded by the censoring horizon, so the unpartitioned
    window is safe at any corpus size — same bounded-lattice argument
    as roc_auc). Spark lacks a product aggregate:
    S(t) = exp(Σ ln(1 - d/n)) — term-order drift vs DuckDB's native
    windowed product() is absorbed by the 6 dp rounding."""
    ev = spread(load_table(spark, "events", sf_dir))
    first = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    # hours via epoch-second arithmetic == DuckDB date_diff('hour'):
    # both truncate toward zero on whole-hour boundaries only when the
    # difference is an exact count of hours; date_diff counts BOUNDARY
    # crossings, so mirror it with timestamp truncation to the hour.
    h = (
        F.unix_timestamp(F.date_trunc("hour", F.col("p_ts")))
        - F.unix_timestamp(F.date_trunc("hour", F.col("first_ts")))
    ) / 3600
    life = (
        first.join(conv, "user_id", "left")
        .select(
            F.when(
                F.coalesce(h, F.lit(KM_CUTOFF_H + 1)) <= KM_CUTOFF_H, h
            )
            .otherwise(F.lit(KM_CUTOFF_H))
            .cast("long")
            .alias("t"),
            F.when(
                F.coalesce(h, F.lit(KM_CUTOFF_H + 1)) <= KM_CUTOFF_H, 1
            )
            .otherwise(0)
            .alias("observed"),
        )
    )
    n_users = first.groupBy().agg(F.count("*").alias("n_users"))
    lat = (
        life.groupBy("t")
        .agg(F.sum("observed").alias("d"), F.count("*").alias("ended"))
        .crossJoin(F.broadcast(n_users))
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    n_risk = F.col("n_users") - F.coalesce(
        F.sum("ended").over(w_prev), F.lit(0)
    )
    km = lat.select(
        "t",
        "d",
        n_risk.alias("n_risk"),
        # ln(0) = -inf when the last risk set dies out entirely:
        # exp(-inf) = 0.0 — identical to the oracle's product hitting 0.
        F.round(
            F.exp(
                F.sum(F.log(F.lit(1.0) - F.col("d") / n_risk)).over(w_run)
            ),
            6,
        ).alias("surv"),
    )
    return km.filter(F.col("d") > 0).select(
        F.col("t").alias("t_hours"),
        "n_risk",
        F.col("d").alias("d_events"),
        "surv",
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes on the day lattice)
# ---------------------------------------------------------------------------
@query(
    "theil_sen_trend",
    """
    WITH daily AS (
      SELECT event_type, ts::DATE AS day,
             epoch(ts::DATE) / 86400 AS dnum, round(sum(value), 4) AS x
      FROM events GROUP BY event_type, ts::DATE, epoch(ts::DATE) / 86400
    ),
    slopes AS (
      SELECT a.event_type,
             (b.x - a.x) / (b.dnum - a.dnum) AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.dnum < b.dnum
    )
    SELECT event_type, count(*)::BIGINT AS n_pairs,
           round(median(slope), 4) AS ts_slope
    FROM slopes GROUP BY event_type
    """,
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the MEDIAN of all pairwise
    slopes of the daily revenue series — up to ~29% outlier-contaminated
    days cannot move it (vs `regression_agg`'s OLS slope, which one bad
    day drags). Public-literature estimator (Theil 1950 / Sen 1968).

    Shape: the pairwise product is over the DAY LATTICE, never rows —
    events collapse to |types| x |days| daily points first (one hash
    agg), and the self-join then costs |days|² per type (~900 cells at
    a year horizon, constant in corpus size). Same bounded-lattice
    argument as roc_auc: 100 TB of events changes the daily sums, not
    the pair count. Median over the slopes is exact percentile on a
    bounded set."""
    ev = spread(load_table(spark, "events", sf_dir))
    daily = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
    ).agg(F.round(F.sum("value"), 4).alias("x"))
    daily = daily.select(
        "event_type",
        (F.unix_timestamp(F.col("day").cast("timestamp")) / 86400).alias(
            "dnum"
        ),
        "x",
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.dnum") < F.col("b.dnum")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        ((F.col("b.x") - F.col("a.x")) / (F.col("b.dnum") - F.col("a.dnum"))).alias(
            "slope"
        ),
    )
    return slopes.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5)"), 4).alias("ts_slope"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest (MAPE / bias per type)
# ---------------------------------------------------------------------------
SNAIVE_LAG_D = 7  # forecast = the value from the same weekday last week


@query(
    "forecast_snaive_backtest",
    f"""
    WITH daily AS (
      SELECT event_type, ts::DATE AS day, round(sum(value), 4) AS x
      FROM events GROUP BY event_type, ts::DATE
    ),
    f AS (
      SELECT event_type, day, x,
             lag(x, {SNAIVE_LAG_D}) OVER (PARTITION BY event_type ORDER BY day)
               AS yhat
      FROM daily
    )
    SELECT event_type, count(*)::BIGINT AS n_scored,
           round(avg(abs(x - yhat) / abs(x)), 4)  AS mape,
           round(avg(yhat - x), 4)                AS bias
    FROM f WHERE yhat IS NOT NULL GROUP BY event_type
    """,
)
def forecast_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling backtest of the seasonal-naive forecaster (ŷ_t =
    x_(t-{SNAIVE_LAG_D})): per-type MAPE and signed bias — the baseline
    every production forecast must beat before it ships, and the
    evaluation harness is the same lag window any real model's backtest
    uses. Complements the diagnostic family (acf_lags /
    seasonal_decompose / cusum_changepoint) with an accuracy read-out.

    Shape: daily lattice first (one hash agg), then one lag window per
    type over the lattice and a tiny final agg — the unbounded part of
    the plan never sees raw events."""
    ev = spread(load_table(spark, "events", sf_dir))
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    f = daily.select(
        "event_type", "x", F.lag("x", SNAIVE_LAG_D).over(w).alias("yhat")
    ).filter(F.col("yhat").isNotNull())
    return f.groupBy("event_type").agg(
        F.count("*").alias("n_scored"),
        F.round(F.avg(F.abs(F.col("x") - F.col("yhat")) / F.abs("x")), 4).alias(
            "mape"
        ),
        F.round(F.avg(F.col("yhat") - F.col("x")), 4).alias("bias"),
    )


# ---------------------------------------------------------------------------
# Sweep-line peak concurrency
# ---------------------------------------------------------------------------
CONC_WINDOW_MIN = 15


@query(
    "max_concurrency_sweep",
    f"""
    WITH iv AS (
      SELECT ts AS s,
             least(ts + INTERVAL '{CONC_WINDOW_MIN} minutes',
                   date_trunc('day', ts) + INTERVAL 1 DAY) AS e,
             date_trunc('day', ts) AS day
      FROM events),
    d AS (
      SELECT day, s AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT day, e AS t, -1 AS delta FROM iv),
    g AS (SELECT day, t, sum(delta) AS net FROM d GROUP BY day, t),
    r AS (
      SELECT day,
             sum(net) OVER (PARTITION BY day ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS cur
      FROM g)
    SELECT CAST(day AS DATE) AS day, CAST(max(cur) AS BIGINT) AS peak_concurrency
    FROM r GROUP BY 1
    """,
)
def max_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent activity per day by sweep line: each event opens a
    {CONC_WINDOW_MIN}-minute presence interval (clipped at midnight — an
    interval counts in the day it STARTS), intervals become +1/-1 deltas,
    deltas collapse per distinct timestamp (so the running sum is
    order-deterministic: the within-tie low point can't exceed the
    after-tie value, and MAX only sees deterministic states), and a
    per-day ordered window takes the running sum's maximum. Scale: the
    sort is PARTITIONED BY DAY — days fan out across executors, no global
    order, no single-partition window (the two-pass prefix-sum in
    running_total covers the truly-global variant). The sweep-line is the
    O(n log n) answer to 'max rooms/machines/sessions at once' that a
    naive self-join makes O(n²)."""
    e = load_table(spark, "events", sf_dir)
    iv = e.select(
        F.col("ts").alias("s"),
        F.least(
            F.expr(f"ts + INTERVAL {CONC_WINDOW_MIN} MINUTES"),
            F.expr("date_trunc('day', ts) + INTERVAL 1 DAY"),
        ).alias("e"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    )
    d = iv.select("day", F.col("s").alias("t"), F.lit(1).alias("delta")).unionAll(
        iv.select("day", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    g = d.groupBy("day", "t").agg(F.sum("delta").alias("net"))
    w = (
        Window.partitionBy("day")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = g.withColumn("cur", F.sum("net").over(w))
    return r.groupBy(F.to_date("day").alias("day")).agg(
        F.max("cur").cast("bigint").alias("peak_concurrency")
    )


# ---------------------------------------------------------------------------
# Linear multi-touch attribution
# ---------------------------------------------------------------------------
MTA_WINDOW_DAYS = 7


@query(
    "multi_touch_attribution",
    f"""
    WITH conv AS (
      SELECT event_id AS conv_id, user_id, ts AS cts, CAST(ts AS DATE) AS conv_day
      FROM events WHERE event_type = 'purchase'),
    touch AS (
      SELECT user_id, ts, event_type AS channel
      FROM events WHERE event_type IN ('view', 'click')),
    pairs AS (
      SELECT c.conv_id, c.conv_day, t.channel
      FROM conv c JOIN touch t
        ON c.user_id = t.user_id
       AND t.ts < c.cts
       AND t.ts >= c.cts - INTERVAL '{MTA_WINDOW_DAYS} days'),
    n AS (SELECT conv_id, count(*) AS n FROM pairs GROUP BY 1)
    SELECT channel, conv_day,
           round(sum(1.0 / n), 4)   AS credit,
           CAST(count(*) AS BIGINT) AS n_touches
    FROM pairs JOIN n USING (conv_id)
    GROUP BY channel, conv_day
    """,
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — the fractional-credit complement
    to `last_touch_attribution`: every view/click in the
    {MTA_WINDOW_DAYS}-day lookback of a purchase shares the
    conversion's one unit of credit equally (1/n per touch), rolled up
    per (channel, conversion day). Plan: user-keyed equi-join with a
    time-range refine (the same shape as join_range — shuffles on
    user_id, per-user pair fan-out bounded by per-user activity in the
    window), then a per-conversion count window (no second join) and
    one hash agg. At 100 TB a hot user is a salting candidate like any
    skewed join key; credit sums are 1/n doubles rounded at 4 (engine
    convention for reassociated float aggregates)."""
    e = load_table(spark, "events", sf_dir)
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("cts"),
        F.col("ts").cast("date").alias("conv_day"),
    )
    touch = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("channel"),
    )
    pairs = conv.join(
        touch,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("tts") < F.col("cts"))
        & (F.col("tts") >= F.expr(f"cts - INTERVAL {MTA_WINDOW_DAYS} DAYS")),
    ).select("conv_id", "conv_day", "channel")
    n = Window.partitionBy("conv_id")
    return (
        pairs.withColumn("n", F.count(F.lit(1)).over(n))
        .groupBy("channel", "conv_day")
        .agg(
            F.round(F.sum(F.lit(1.0) / F.col("n")), 4).alias("credit"),
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        )
    )


# ---------------------------------------------------------------------------
# Interval union coverage (merge overlapping presence intervals per key)
# ---------------------------------------------------------------------------
@query(
    "interval_union_time",
    f"""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + {CONC_WINDOW_MIN} * 60 * 1000000 AS e
      FROM events),
    marked AS (
      SELECT user_id, s, e,
             CASE WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING)
                  OR max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) IS NULL
                  THEN 1 ELSE 0 END AS new_island
      FROM iv),
    islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM marked),
    spans AS (
      SELECT user_id, island, max(e) - min(s) AS span_us
      FROM islands GROUP BY user_id, island)
    SELECT user_id,
           CAST(count(*) AS BIGINT)          AS n_islands,
           CAST(sum(span_us) // 1000000 AS BIGINT) AS covered_sec
    FROM spans
    GROUP BY user_id
    """,
)
def interval_union_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total covered time per user after merging overlapping presence
    intervals (each event opens {CONC_WINDOW_MIN} minutes) — the per-key
    union-of-intervals complement to max_concurrency_sweep's global
    overlap count. Classic gaps-and-islands: an interval starts a new
    island iff its start exceeds the running max of prior ends
    (touching intervals merge, half-open semantics), islands then
    aggregate to spans. ALL arithmetic is integer microseconds —
    bit-exact across engines, no float rounding contract needed.
    Scale: both windows and both aggregations share ONE user_id
    shuffle; per-user state is the running max only. This is the
    'billable connected time / machine uptime / ad exposure' kernel."""
    e = load_table(spark, "events", sf_dir)
    iv = e.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.lit(CONC_WINDOW_MIN * 60 * 1_000_000)
        ).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_max = F.max("e").over(w_prev)
    marked = iv.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    islands = marked.withColumn("island", F.sum("new_island").over(w_run))
    spans = islands.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("span_us")
    )
    return spans.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.expr("sum(span_us) div 1000000").cast("bigint").alias("covered_sec"),
    )


# ---------------------------------------------------------------------------
# DAU / WAU stickiness (growth accounting)
# ---------------------------------------------------------------------------
WAU_DAYS = 7


@query(
    "dau_wau_stickiness",
    f"""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    lattice AS (SELECT DISTINCT day FROM ud),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
    probes AS (
      SELECT ud.user_id, ud.day + CAST(k AS INT) AS pday
      FROM ud CROSS JOIN unnest(range(0, {WAU_DAYS})) AS t(k)),
    wau AS (
      SELECT p.pday AS day, CAST(count(DISTINCT p.user_id) AS BIGINT) AS wau
      FROM probes p JOIN lattice l ON p.pday = l.day
      GROUP BY 1)
    SELECT d.day, d.dau, w.wau,
           round(d.dau * 1.0 / w.wau, 4) AS stickiness
    FROM dau d JOIN wau w USING (day)
    """,
)
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the growth-accounting ratio ('what
    fraction of this week's users showed up today'). Trailing
    {WAU_DAYS}-day distinct users WITHOUT a rolling-distinct window
    (which Spark can't stream and both engines evaluate O(days·users)):
    each (user, active-day) row probes the next {WAU_DAYS} calendar days
    (constant fan-out, map-side), the probe day equi-joins the observed
    day lattice (no phantom days past the data), and one
    count-distinct-per-day hash agg finishes it. Scale: the per-user-day
    dedup is one shuffle of (user, day) pairs; the 7x probe explode is a
    constant; the distinct agg shuffles (day, user) — all linear in
    active user-days, the plan a 100 TB events table needs."""
    e = load_table(spark, "events", sf_dir)
    ud = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    lattice = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))
    probes = ud.select(
        "user_id",
        F.expr(f"explode(sequence(0, {WAU_DAYS - 1}))").alias("k"),
        F.col("day"),
    ).select("user_id", F.expr("date_add(day, k)").alias("pday"))
    wau = (
        probes.join(lattice, probes.pday == lattice.day)
        .groupBy(F.col("day"))
        .agg(F.count_distinct("user_id").cast("bigint").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau") * 1.0 / F.col("wau"), 4).alias("stickiness"),
    )


HOLT_ALPHA = 0.3   # level smoothing
HOLT_BETA = 0.1    # trend smoothing


@query(
    "holt_linear_smooth",
    f"""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
             round(sum(value), 4) AS y
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT event_type, day_ts, y,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY day_ts) AS rn
      FROM daily),
    rec AS (
      SELECT event_type, rn, day_ts, y,
             y AS lvl, CAST(0.0 AS DOUBLE) AS trend
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.rn, s.day_ts, s.y,
             round({HOLT_ALPHA} * s.y
                   + (1 - {HOLT_ALPHA}) * (r.lvl + r.trend), 4),
             round({HOLT_BETA}
                   * (round({HOLT_ALPHA} * s.y
                      + (1 - {HOLT_ALPHA}) * (r.lvl + r.trend), 4) - r.lvl)
                   + (1 - {HOLT_BETA}) * r.trend, 4)
      FROM seq s JOIN rec r
        ON s.event_type = r.event_type AND s.rn = r.rn + 1)
    SELECT event_type, rn, day_ts, y,
           lvl AS level, trend,
           round(lvl + trend, 4) AS forecast_next
    FROM rec
    """,
)
def holt_linear_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend) of the
    daily value series per event type — the forecasting upgrade of
    `ewma_smooth`: l_i = α·y_i + (1−α)(l_{i-1}+b_{i-1}),
    b_i = β(l_i − l_{i-1}) + (1−β)b_{i-1}, with forecast_next =
    l_i + b_i feeding `forecast_snaive_backtest`-style evaluation.
    A two-variable coupled recurrence no window frame expresses —
    grouped-map pandas over the DAY LATTICE: the daily rollup is one
    hash agg (map-side combinable), so each Arrow batch holds ≤31 rows
    per type regardless of corpus size; the event table itself never
    enters the recurrence. Same state-bounding story as ewma, but the
    series length is calendar-bounded, not events-bounded.

    FP parity: inputs land on the 1e-4 grid at the rollup, and BOTH
    state variables are re-quantized after every step with DuckDB's
    half-away-from-zero rule (the ewma trick, doubled); the oracle's
    recursive CTE inlines the level expression into the trend update so
    the two engines see bit-identical intermediate state."""
    import math

    import pandas as pd

    e = load_table(spark, "events", sf_dir)
    daily = (
        e.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day_ts")
        )
        .agg(F.round(F.sum("value"), 4).alias("y"))
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        p = 10.0**4

        def rnd(v: float) -> float:
            # DuckDB round(): scale then half-AWAY-from-zero (see
            # ewma_smooth for why Python's bankers' round can't be used)
            s = v * p
            f = math.floor(s)
            d = s - f
            if d > 0.5:
                f += 1.0
            elif d == 0.5:
                f = f + 1.0 if s >= 0 else f
            return f / p

        pdf = pdf.sort_values("day_ts").reset_index(drop=True)
        y = pdf["y"].to_numpy()
        n = len(y)
        lvl = [0.0] * n
        trd = [0.0] * n
        if n:
            lvl[0] = float(y[0])
            trd[0] = 0.0
        for i in range(1, n):
            li = rnd(
                HOLT_ALPHA * float(y[i]) + (1.0 - HOLT_ALPHA) * (lvl[i - 1] + trd[i - 1])
            )
            lvl[i] = li
            trd[i] = rnd(
                HOLT_BETA * (li - lvl[i - 1]) + (1.0 - HOLT_BETA) * trd[i - 1]
            )
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "rn": range(1, n + 1),
                "day_ts": pdf["day_ts"],
                "y": y,
                "level": lvl,
                "trend": trd,
                "forecast_next": [rnd(a + b) for a, b in zip(lvl, trd)],
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        holt,
        "event_type string, rn int, day_ts timestamp_ntz, y double,"
        " level double, trend double, forecast_next double",
    )


@query(
    "running_balance_floor",
    """
    WITH d AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('purchase', 'click')
                  THEN round(value, 4) ELSE -round(value, 4) END AS delta
      FROM events),
    c AS (
      SELECT user_id, ts, event_id, delta,
             sum(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM d),
    s AS (
      SELECT user_id, ts, event_id, delta, cum,
             min(cum) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_min
      FROM c)
    SELECT user_id, event_id, round(delta, 4) AS delta,
           round(cum - LEAST(0, run_min), 4) AS balance
    FROM s
    """,
)
def running_balance_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-negative running balance (credits minus debits, clamped at
    zero — the inventory/wallet semantics where you can't go below
    empty): bal_i = max(0, bal_{i-1} + δ_i). The recurrence LOOKS
    sequential like `ewma_smooth`, but the zero-floor case has a
    closed-form identity — bal_i = S_i − min(0, min_{j≤i} S_j), the
    running prefix sum re-leveled by its running minimum — so it runs
    as TWO stacked window functions in one sort/shuffle, fully
    JVM-side, no pandas recurrence at all. The didactic counterpoint
    in the recurrence family: reach for the algebraic identity before
    applyInPandas (a floor AND cap together genuinely needs the
    recurrence; floor-only does not).

    Parity: deltas are 1e-4-quantized BEFORE the cumulation and both
    engines accumulate in the identical (ts, event_id) frame order, so
    the prefix sums are bit-identical; min/least are exact."""
    e = load_table(spark, "events", sf_dir)
    delta = F.when(
        F.col("event_type").isin("purchase", "click"), F.round("value", 4)
    ).otherwise(-F.round("value", 4))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    s = (
        e.select("user_id", "ts", "event_id", delta.alias("delta"))
        .withColumn("cum", F.sum("delta").over(w))
        .withColumn("run_min", F.min("cum").over(w))
    )
    return s.select(
        "user_id",
        "event_id",
        F.round("delta", 4).alias("delta"),
        F.round(F.col("cum") - F.least(F.lit(0.0), F.col("run_min")), 4).alias(
            "balance"
        ),
    )


CONF_ALPHA = 0.1      # 90% target coverage
CONF_CAL_LAST_DAY = 23  # residual days <= this calibrate; later days test


@query(
    "conformal_forecast_interval",
    f"""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
             round(sum(value), 4) AS y
      FROM events GROUP BY 1, 2),
    res AS (
      SELECT event_type, day_ts, y,
             round(abs(y - lag(y, 7) OVER (PARTITION BY event_type
                                           ORDER BY day_ts)), 4) AS r
      FROM daily QUALIFY r IS NOT NULL),
    cal AS (
      SELECT event_type, r,
             row_number() OVER (PARTITION BY event_type ORDER BY r)
               AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_cal
      FROM res WHERE day(day_ts) <= {CONF_CAL_LAST_DAY}),
    q AS (
      SELECT event_type, n_cal, r AS q_hat
      FROM cal
      WHERE rn = LEAST(n_cal, CAST(ceil((n_cal + 1) * (1 - {CONF_ALPHA}))
                                   AS BIGINT))),
    t AS (
      SELECT res.event_type,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN res.r <= q.q_hat THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_covered
      FROM res JOIN q ON res.event_type = q.event_type
      WHERE day(res.day_ts) > {CONF_CAL_LAST_DAY}
      GROUP BY res.event_type)
    SELECT q.event_type, q.n_cal, round(q.q_hat, 4) AS q_hat,
           t.n_test, t.n_covered,
           round(t.n_covered * 1.0 / t.n_test, 4) AS coverage
    FROM q JOIN t ON q.event_type = t.event_type
    """,
)
def conformal_forecast_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals around the seasonal-naive
    forecast: the calibration days' absolute residuals give q̂ = the
    ⌈(n+1)(1−α)⌉-th smallest |residual| (the finite-sample-valid
    DISCRETE quantile — no interpolation, so the cutoff is an actual
    observed residual and engine-portable by construction), and the
    later days report empirical coverage of ŷ ± q̂. This is the
    distribution-free uncertainty wrapper (`forecast_snaive_backtest`
    gives point accuracy; this gives calibrated intervals).

    Shape: everything runs on the per-type DAY lattice (≤31 rows per
    type at any corpus size) — lag-7 residuals, a rank window for the
    order statistic, a broadcast of the 5-row q̂ table back onto the
    test days. The raw events table is touched exactly once (the daily
    rollup). Residuals live on the 1e-4 grid (rounded daily sums), so
    rank order and the coverage comparisons are identical cross-engine."""
    e = load_table(spark, "events", sf_dir)
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day_ts")
    ).agg(F.round(F.sum("value"), 4).alias("y"))
    w = Window.partitionBy("event_type").orderBy("day_ts")
    res = (
        daily.withColumn("r", F.round(F.abs(F.col("y") - F.lag("y", 7).over(w)), 4))
        .filter(F.col("r").isNotNull())
    )
    cal = res.filter(F.dayofmonth("day_ts") <= CONF_CAL_LAST_DAY)
    wr = Window.partitionBy("event_type").orderBy("r")
    wn = Window.partitionBy("event_type")
    cal = cal.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n_cal", F.count(F.lit(1)).over(wn)
    )
    k = F.least(
        F.col("n_cal"),
        F.ceil((F.col("n_cal") + 1) * (1 - CONF_ALPHA)).cast("bigint"),
    )
    q = cal.filter(F.col("rn") == k).select(
        "event_type", "n_cal", F.col("r").alias("q_hat")
    )
    test = res.filter(F.dayofmonth("day_ts") > CONF_CAL_LAST_DAY)
    t = (
        test.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("r") <= F.col("q_hat"), 1).otherwise(0)
            ).alias("n_covered"),
        )
    )
    return (
        q.join(t, "event_type")
        .select(
            "event_type",
            "n_cal",
            F.round("q_hat", 4).alias("q_hat"),
            "n_test",
            "n_covered",
            F.round(F.col("n_covered") * 1.0 / F.col("n_test"), 4).alias("coverage"),
        )
    )


VAR_Q = 0.05  # tail probability for VaR/CVaR


@query(
    "var_cvar_report",
    f"""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
             round(sum(value), 4) AS y
      FROM events GROUP BY 1, 2),
    chg AS (
      SELECT event_type, day_ts,
             round(y - lag(y) OVER (PARTITION BY event_type
                                    ORDER BY day_ts), 4) AS chg
      FROM daily QUALIFY chg IS NOT NULL),
    ranked AS (
      SELECT event_type, chg,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY chg, day_ts) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM chg),
    v AS (
      SELECT event_type, n, chg AS var_cut
      FROM ranked
      WHERE rn = GREATEST(1, CAST(ceil(n * {VAR_Q}) AS BIGINT)))
    SELECT r.event_type, v.n AS n_days,
           round(-v.var_cut, 4) AS var_95,
           round(-avg(CASE WHEN r.rn <= GREATEST(1, CAST(ceil(v.n * {VAR_Q})
                                                 AS BIGINT))
                      THEN r.chg END), 4) AS cvar_95
    FROM ranked r JOIN v ON r.event_type = v.event_type
    GROUP BY r.event_type, v.n, v.var_cut
    """,
)
def var_cvar_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk and expected shortfall (CVaR) of the daily change
    in per-type volume: the 5th-percentile worst day (discrete order
    statistic — same engine-portable choice as the conformal q̂) and
    the mean of the days at or beyond it. CVaR is the coherent tail
    measure (VaR says where the tail starts, CVaR how bad it is on
    average) — with `max_drawdown` this completes the risk battery.

    Day-lattice shapes throughout: diff window, rank window, a tiny
    cut-row broadcast, and a conditional mean over the ≤31-row lattice
    per type. Changes sit on the 1e-4 grid; ties in the rank order
    break by day_ts on both engines."""
    e = load_table(spark, "events", sf_dir)
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day_ts")
    ).agg(F.round(F.sum("value"), 4).alias("y"))
    w = Window.partitionBy("event_type").orderBy("day_ts")
    chg = (
        daily.withColumn("chg", F.round(F.col("y") - F.lag("y").over(w), 4))
        .filter(F.col("chg").isNotNull())
    )
    wr = Window.partitionBy("event_type").orderBy("chg", "day_ts")
    wn = Window.partitionBy("event_type")
    ranked = chg.withColumn("rn", F.row_number().over(wr)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    kq = F.greatest(F.lit(1).cast("bigint"), F.ceil(F.col("n") * VAR_Q).cast("bigint"))
    v = ranked.filter(F.col("rn") == kq).select(
        "event_type", F.col("n").alias("n_days"), F.col("chg").alias("var_cut")
    )
    out = (
        ranked.drop("n")
        .join(F.broadcast(v), "event_type")
        .groupBy("event_type", "n_days", "var_cut")
        .agg(
            F.round(
                -F.avg(
                    F.when(
                        F.col("rn")
                        <= F.greatest(
                            F.lit(1).cast("bigint"),
                            F.ceil(F.col("n_days") * VAR_Q).cast("bigint"),
                        ),
                        F.col("chg"),
                    )
                ),
                4,
            ).alias("cvar_95")
        )
    )
    return out.select(
        "event_type",
        "n_days",
        F.round(-F.col("var_cut"), 4).alias("var_95"),
        "cvar_95",
    )


# band upper bounds in seconds; the last band is open-ended
LATE_BANDS = ((0, "on_time"), (60, "le_1m"), (300, "le_5m"),
              (900, "le_15m"), (3600, "le_1h"))
LATE_JITTER_US = 600_000_000  # simulated ingestion jitter bound: 10 min


def _late_band_sql() -> str:
    cases = " ".join(
        f"WHEN late_s <= {ub} THEN '{lbl}'" for ub, lbl in LATE_BANDS
    )
    return f"CASE {cases} ELSE 'gt_1h' END"


@query(
    "late_data_audit",
    f"""
    WITH arr AS (
      SELECT event_id, ts,
             epoch_us(ts) + ('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                            1, 8))::BIGINT
                            % {LATE_JITTER_US} AS aj,
             NULL AS _pad
      FROM events),
    hw AS (
      SELECT event_id, ts,
             max(epoch_us(ts)) OVER (ORDER BY aj, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS high_us
      FROM arr),
    lat AS (
      SELECT (high_us - epoch_us(ts)) // 1000000 AS late_s FROM hw),
    band AS (SELECT {{_late_band_sql()}} AS band, late_s FROM lat),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM band)
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_events,
           round(count(*) * 1.0 / (SELECT n FROM tot), 6) AS frac,
           CAST(max(late_s) AS BIGINT) AS max_late_s
    FROM band GROUP BY band
    """.replace("{_late_band_sql()}", _late_band_sql()),
)
def late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-sizing audit: each event's LATENESS relative to the
    stream's event-time high-water mark at its ARRIVAL — exactly the
    quantity a `withWatermark` bound must exceed for the event to
    survive. The fixture's ingestion order is perfectly monotone (ts
    and event_id correlate at 0.99998, every event would be on-time),
    so arrival is modeled as event time plus a deterministic md5-hash
    jitter bounded at 10 minutes — the bounded-disorder regime real
    ingestion exhibits. The banded histogram (on-time / ≤1m / ≤5m /
    ≤15m / …) is what you read before picking every withWatermark
    delay in this repo: the smallest band prefix covering ~99% of
    events IS the watermark recommendation.

    The running maximum over global arrival order would be a
    single-partition window at scale; here it is the TWO-PASS prefix
    scan (`running_total`'s discipline, max instead of sum):
    range-partition by the arrival key, per-partition running max,
    then `greatest` with the broadcast prefix-max of earlier
    partitions — identical result, no serialized sort. Lateness is
    exact integer micros end-to-end."""
    e = load_table(spark, "events", sf_dir).select("event_id", "ts")
    ts_us = ts_micros("ts")
    jitter = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % LATE_JITTER_US
    )
    e = e.withColumn("aj", ts_us + jitter)
    # pass 1: prefix maxima of per-partition event-time maxima, in micros
    ranged, off_us = prefix_scan(
        e, ["aj", "event_id"], F.max(ts_micros("ts")), max, -(2**62)
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy("aj", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    arr = ranged.withColumn(
        "high_us", F.greatest(F.max(ts_micros("ts")).over(w), off_us)
    )
    late_s = F.floor((F.col("high_us") - ts_micros("ts")) / 1_000_000).cast("bigint")
    band = F.coalesce(
        *[F.when(F.col("late_s") <= ub, F.lit(lbl)) for ub, lbl in LATE_BANDS],
        F.lit("gt_1h"),
    )
    lat = arr.withColumn("late_s", late_s).withColumn("band", band)
    tot = lat.agg(F.count(F.lit(1)).alias("n"))
    return (
        lat.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("late_s").alias("max_late_s"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n_events",
            F.round(F.col("n_events") * 1.0 / F.col("n"), 6).alias("frac"),
            "max_late_s",
        )
    )


@query(
    "cohort_ltv_curve",
    """
    WITH first_seen AS (
      SELECT user_id,
             CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS cohort_day
      FROM events GROUP BY user_id),
    sizes AS (
      SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_users
      FROM first_seen GROUP BY 1),
    rev AS (
      SELECT f.cohort_day,
             CAST(date_diff('day', f.cohort_day,
                  CAST(date_trunc('day', e.ts) AS TIMESTAMP)) AS INT)
               AS day_since,
             CAST(round(sum(CASE WHEN e.event_type = 'purchase'
                            THEN e.value ELSE 0 END) * 10000) AS BIGINT)
               AS rev_units
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
      GROUP BY 1, 2),
    cum AS (
      SELECT cohort_day, day_since, rev_units,
             CAST(sum(rev_units) OVER (PARTITION BY cohort_day
               ORDER BY day_since
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_units
      FROM rev)
    SELECT c.cohort_day, c.day_since, s.cohort_users,
           round(c.rev_units / 10000.0, 4)  AS day_revenue,
           round(c.cum_units / 10000.0, 4)  AS cum_revenue,
           ((2 * c.cum_units + s.cohort_users) // (2 * s.cohort_users))
             / 10000.0 AS ltv_per_user
    FROM cum c JOIN sizes s ON c.cohort_day = s.cohort_day
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative purchase revenue per signup-day
    cohort, normalized per cohort user — the growth-analytics view that
    turns `retention_cohort`'s "do they come back" into "what are they
    WORTH over time". Payback analysis reads acquisition cost against
    this curve.

    Shape: first-seen day per user (one hash agg), revenue re-keyed to
    (cohort, days-since) — a lattice bounded by days², not users — then
    a cumulative window over that lattice and a broadcast join of
    cohort sizes. Three shuffles total, none proportional to anything
    but the user count. Money moves through EXACT int64 1e-4 units
    (the proration discipline): per-cell revenue quantizes ONCE at the
    aggregate, cumulation is integer addition, and every reported
    float is one division of identical integers — the first version
    divided a cumulated DOUBLE and a .18375 midpoint flipped the last
    digit across engines."""
    e = load_table(spark, "events", sf_dir)
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    sizes = first_seen.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    rev = (
        e.join(first_seen, "user_id")
        .groupBy(
            "cohort_day",
            (
                F.floor(
                    (
                        ts_micros(F.date_trunc("day", F.col("ts")))
                        - ts_micros("cohort_day")
                    )
                    / (24 * 3600 * 1_000_000)
                )
            )
            .cast("int")
            .alias("day_since"),
        )
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                        0.0
                    )
                )
                * 10000
            )
            .cast("bigint")
            .alias("rev_units")
        )
    )
    w = Window.partitionBy("cohort_day").orderBy("day_since").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = rev.withColumn("cum_units", F.sum("rev_units").over(w).cast("bigint"))
    return (
        cum.join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "day_since",
            "cohort_users",
            F.round(F.col("rev_units") / 10000.0, 4).alias("day_revenue"),
            F.round(F.col("cum_units") / 10000.0, 4).alias("cum_revenue"),
            (
                F.floor(
                    (2 * F.col("cum_units") + F.col("cohort_users"))
                    / (2 * F.col("cohort_users"))
                ).cast("bigint")
                / 10000.0
            ).alias("ltv_per_user"),
        )
    )


# ------------------------------------------------------ join_asof_nearest


@query(
    "join_asof_nearest",
    f"""
    WITH rates AS (
      SELECT event_type,
             epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS htus,
             {_RATE_SQL} AS hourly_rate
      FROM events GROUP BY 1, 2),
    e AS (SELECT event_id, event_type, epoch_us(ts) AS tus FROM events),
    be AS (
      SELECT e.event_id, e.event_type, e.tus,
             b.hourly_rate AS b_rate, b.htus AS b_ts
      FROM e ASOF LEFT JOIN rates b
        ON e.event_type = b.event_type AND e.tus >= b.htus),
    bf AS (
      SELECT be.*, f.hourly_rate AS f_rate, f.htus AS f_ts
      FROM be ASOF LEFT JOIN rates f
        ON be.event_type = f.event_type AND be.tus <= f.htus)
    SELECT event_id, event_type,
           CASE WHEN f_ts IS NULL THEN b_rate
                WHEN b_ts IS NULL THEN f_rate
                WHEN tus - b_ts <= f_ts - tus THEN b_rate
                ELSE f_rate END AS nearest_rate,
           CAST(CASE WHEN f_ts IS NULL THEN tus - b_ts
                     WHEN b_ts IS NULL THEN f_ts - tus
                     WHEN tus - b_ts <= f_ts - tus THEN tus - b_ts
                     ELSE f_ts - tus END // 1000000 AS BIGINT) AS delta_sec
    FROM bf
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join — each event picks the hourly rate whose hour
    start is closest in time, in EITHER direction (pandas
    merge_asof(direction='nearest')): the sensor-alignment semantics
    when neither look-back nor look-ahead is privileged. Completes the
    as-of triple (backward `join_asof`, forward `join_asof_forward`).

    Shape: nearest = backward + forward + a per-row argmin — both legs
    are the same single-shuffle union+window kernels, over the SAME
    key partitioning (one Exchange on event_type feeds both windows;
    no range-join explosion however many events share an hour). The
    deltas are pure int64 microsecond math; at an exact tie (an event
    precisely mid-way between two hour starts) the EARLIER rate wins,
    documented and mirrored in the oracle (<= on the backward delta).
    `div 1000000` truncation == DuckDB `//` floor on this non-negative
    domain. Oracle: two native DuckDB ASOF joins + the same CASE."""
    events = load_table(spark, "events", sf_dir)
    tus = ts_micros("ts")
    rates = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.expr(_RATE_SQL).alias("hourly_rate"))
        .select(
            "event_type",
            ts_micros(F.col("w.start")).alias("htus"),
            "hourly_rate",
        )
    )
    e = events.select("event_id", "event_type", tus.alias("tus"))
    back = asof_join(
        e,
        rates.select(
            "event_type",
            "htus",
            F.col("hourly_rate").alias("b_rate"),
            F.col("htus").alias("b_ts"),
        ),
        key="event_type",
        left_ts="tus",
        right_ts="htus",
        value_cols=["b_rate", "b_ts"],
    )
    both = asof_join_forward(
        back,
        rates.select(
            "event_type",
            "htus",
            F.col("hourly_rate").alias("f_rate"),
            F.col("htus").alias("f_ts"),
        ),
        key="event_type",
        left_ts="tus",
        right_ts="htus",
        value_cols=["f_rate", "f_ts"],
    )
    db = F.col("tus") - F.col("b_ts")
    df_ = F.col("f_ts") - F.col("tus")
    take_back = F.col("f_ts").isNull() | (
        F.col("b_ts").isNotNull() & (db <= df_)
    )
    delta = F.when(take_back, db).otherwise(df_)
    return both.select(
        "event_id",
        "event_type",
        F.when(take_back, F.col("b_rate")).otherwise(F.col("f_rate")).alias(
            "nearest_rate"
        ),
        F.expr(
            "CASE WHEN (f_ts IS NULL) OR (b_ts IS NOT NULL AND tus - b_ts <= f_ts - tus) "
            "THEN (tus - b_ts) div 1000000 ELSE (f_ts - tus) div 1000000 END"
        ).cast("bigint").alias("delta_sec"),
    )


# -------------------------------------------------- time_decay_attribution

DECAY_TAU_US = 20 * 60 * 1_000_000  # exponential half-scale: 20 minutes


@query(
    "time_decay_attribution",
    f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS ptus
      FROM events WHERE event_type = 'purchase'),
    c AS (
      SELECT user_id, epoch_us(ts) AS ctus,
             CAST(max(event_id) AS BIGINT) AS click_id
      FROM events WHERE event_type = 'click'
      GROUP BY 1, 2),
    j AS (
      SELECT p.purchase_id, p.user_id, c.click_id,
             p.ptus - c.ctus AS lag_us,
             exp(-CAST(p.ptus - c.ctus AS DOUBLE) / {DECAY_TAU_US}) AS w
      FROM p JOIN c ON p.user_id = c.user_id
       AND c.ctus <= p.ptus
       AND p.ptus - c.ctus <= {ATTRIB_WINDOW_US})
    SELECT purchase_id, user_id, click_id,
           CAST(lag_us // 1000000 AS BIGINT) AS lag_sec,
           round(w / sum(w) OVER (PARTITION BY purchase_id), 6) AS credit
    FROM j
    """,
)
def time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution: every click in the hour before a purchase
    shares the credit, weighted exp(-lag/tau) and normalized per
    purchase — the third attribution model (recency-weighted) next to
    `last_touch_attribution` (winner-take-all) and
    `multi_touch_attribution` (equal split). tau = 20 min: a click 20
    minutes out is worth 1/e of an immediate one.

    Shape: the same bounded interval join as `join_interval_funnel` —
    user_id drives the shuffle, the one-hour residual bounds fan-out
    (and would bound streaming state in the stream twin). Clicks
    pre-dedupe per (user, ts) to max event_id, the weight is exp of an
    exact-int64 lag over a literal (identical per row on both
    engines), and the per-purchase normalizer is a window sum whose
    few-term add-order noise dies in round(6). `div` truncation ==
    `//` floor on the non-negative lag domain."""
    e = load_table(spark, "events", sf_dir)
    tus = ts_micros("ts")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", tus.alias("ptus")
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user_id"), tus.alias("ctus"), "event_id")
        .groupBy("c_user_id", "ctus")
        .agg(F.max("event_id").alias("click_id"))
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("ctus") <= F.col("ptus"))
        & (F.col("ptus") - F.col("ctus") <= ATTRIB_WINDOW_US),
    ).select(
        "purchase_id",
        "user_id",
        "click_id",
        (F.col("ptus") - F.col("ctus")).alias("lag_us"),
        F.exp(-(F.col("ptus") - F.col("ctus")).cast("double") / DECAY_TAU_US).alias(
            "w"
        ),
    )
    wsum = F.sum("w").over(Window.partitionBy("purchase_id"))
    return j.select(
        "purchase_id",
        "user_id",
        "click_id",
        F.expr("lag_us div 1000000").cast("bigint").alias("lag_sec"),
        F.round(F.col("w") / wsum, 6).alias("credit"),
    )


# -------------------------------------------------------------- sax_encode

SAX_SEGMENTS = 8
# N(0,1) quartile breakpoints for a 4-letter alphabet (Lin et al., DMKD'07)
SAX_BP = 0.6745


@query(
    "sax_encode",
    f"""
    WITH st AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             sum(value) AS s, sum(value * value) AS s2
      FROM events GROUP BY 1
      HAVING count(*) >= {SAX_SEGMENTS}),
    rn AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS r
      FROM events),
    z AS (
      SELECT rn.user_id, st.n,
             ((rn.r - 1) * {SAX_SEGMENTS}) // st.n AS seg,
             CASE WHEN greatest(st.s2 / st.n - (st.s / st.n) * (st.s / st.n),
                                0.0) > 0
                  THEN (rn.value - st.s / st.n)
                       / sqrt(st.s2 / st.n - (st.s / st.n) * (st.s / st.n))
                  ELSE 0.0 END AS z
      FROM rn JOIN st ON rn.user_id = st.user_id),
    paa AS (
      SELECT user_id, n, seg, avg(z) AS pm
      FROM z GROUP BY 1, 2, 3)
    SELECT user_id, n AS n_events,
           string_agg(CASE WHEN pm < -{SAX_BP} THEN 'a'
                           WHEN pm < 0 THEN 'b'
                           WHEN pm < {SAX_BP} THEN 'c'
                           ELSE 'd' END, '' ORDER BY seg) AS sax_word
    FROM paa GROUP BY 1, 2
    """,
)
def sax_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin et al., DMKD'07) of each user's event-value
    series: z-normalize, Piecewise Aggregate Approximation into
    {SAX_SEGMENTS} equal-count segments, then map segment means onto a
    4-letter alphabet at the N(0,1) quartile breakpoints — the
    dimensionality reduction that turns raw series into join-able /
    group-able words (motif mining, series dedup, index keys).

    Shape: two shuffles on user_id — one moment aggregation (n, sum,
    sum^2; the z-stats come from the SAME explicit raw-moment algebra
    on both engines, variance floored at 0 per the catastrophic-
    cancellation advisory) and one row_number window; segment ids are
    pure integer math (`div` == `//` on the non-negative domain), the
    PAA means collapse map-side, and the word assembles from a sorted
    bounded array ({SAX_SEGMENTS} letters), never a global sort. Users
    with fewer than {SAX_SEGMENTS} events are gated out (their PAA is
    the identity). Breakpoint comparisons see ~1e-12 add-order noise
    only within a hair of a boundary — measured zero flips on this
    data; pinned degenerate case (constant series: std = 0 -> z = 0 ->
    all-'c' word) in tests."""
    e = load_table(spark, "events", sf_dir)
    st = (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.sum(F.col("value") * F.col("value")).alias("s2"),
        )
        .filter(F.col("n") >= SAX_SEGMENTS)
    )
    w = Window.partitionBy("user_id").orderBy(ts_micros("ts"), F.col("event_id"))
    rn = e.select("user_id", "value", F.row_number().over(w).alias("r"))
    m = F.col("s") / F.col("n")
    var = F.greatest(F.col("s2") / F.col("n") - m * m, F.lit(0.0))
    z = rn.join(st, "user_id").select(
        "user_id",
        "n",
        F.expr(f"((r - 1) * {SAX_SEGMENTS}) div n").alias("seg"),
        F.when(var > 0, (F.col("value") - m) / F.sqrt(var)).otherwise(0.0).alias("z"),
    )
    paa = z.groupBy("user_id", "n", "seg").agg(F.avg("z").alias("pm"))
    letter = (
        F.when(F.col("pm") < -SAX_BP, "a")
        .when(F.col("pm") < 0, "b")
        .when(F.col("pm") < SAX_BP, "c")
        .otherwise("d")
    )
    return (
        paa.select("user_id", "n", "seg", letter.alias("letter"))
        .groupBy("user_id", F.col("n").alias("n_events"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "letter"))),
                    lambda s: s.letter,
                ),
                "",
            ).alias("sax_word")
        )
    )


# ---------------------------------------------- mann_kendall_trend_test


@query(
    "mann_kendall_trend_test",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             round(sum(value), 4) AS x
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
      GROUP BY 1),
    nn AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1),
    ties AS (
      SELECT event_type,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT event_type, x, count(*) AS t FROM daily GROUP BY 1, 2)
      GROUP BY 1),
    v AS (
      SELECT s.event_type, s_stat, n,
             (CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - tie_term) / 18.0
               AS var_s
      FROM s JOIN nn USING (event_type) JOIN ties USING (event_type))
    SELECT event_type, n AS n_days, s_stat,
           round(var_s, 4) AS var_s,
           round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                      WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                      ELSE 0.0 END, 4) AS z_stat
    FROM v
    """,
)
def mann_kendall_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend TEST per event type: S = sum of pairwise
    sign(x_j - x_i) over the daily-revenue series, tie-corrected
    variance, and the continuity-corrected z — the SIGNIFICANCE
    companion to `theil_sen_trend` (which estimates the slope this test
    decides is real): the canonical pairing in environmental/ops trend
    monitoring, both distribution-free.

    Shape: identical bounded-lattice discipline to theil_sen_trend —
    one hash agg collapses events to the |types| x |days| lattice
    (daily sums ROUNDED to 4dp before any comparison, so the pairwise
    sign cannot flip on cross-engine 1e-12 sum noise), the pairwise
    sign sum is a lattice self-join (~days²/2 cells per type, constant
    in corpus size), S and the tie term are exact int64, and floats
    appear only in the final variance/z algebra.

    Reference provenance: generalizes the aggregate surface of
    cassandra_sink.scala:113-120 to trend significance."""
    ev = spread(load_table(spark, "events", sf_dir))
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("x"))
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    nn = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)).alias(
                "tie_term"
            )
        )
    )
    n = F.col("n")
    var_s = (n.cast("double") * (n - 1) * (2 * n + 5) - F.col("tie_term")) / 18.0
    ss = F.col("s_stat")
    z = (
        F.when(ss > 0, (ss - 1) / F.sqrt(F.col("var_s")))
        .when(ss < 0, (ss + 1) / F.sqrt(F.col("var_s")))
        .otherwise(0.0)
    )
    return (
        s.join(nn, "event_type")
        .join(ties, "event_type")
        .withColumn("var_s", var_s)
        .select(
            "event_type",
            n.alias("n_days"),
            "s_stat",
            F.round(F.col("var_s"), 4).alias("var_s"),
            F.round(z, 4).alias("z_stat"),
        )
    )


# -------------------------------------------------------- pinball_loss_eval

PINBALL_QS = (0.1, 0.5, 0.9)
SNAIVE_LAG_DAYS = 7


@query(
    "pinball_loss_eval",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             round(sum(value), 4) AS y
      FROM events GROUP BY 1, 2),
    fc AS (
      SELECT event_type, day, y,
             lag(y, {SNAIVE_LAG_DAYS}) OVER (PARTITION BY event_type
                                             ORDER BY day) AS yhat
      FROM daily),
    q AS (SELECT CAST(unnest([{", ".join(str(q) for q in PINBALL_QS)}]) AS DOUBLE) AS q)
    SELECT event_type, q,
           CAST(count(*) AS BIGINT) AS n_days,
           round(avg(CASE WHEN y >= yhat THEN q * (y - yhat)
                          ELSE (q - 1) * (y - yhat) END), 4) AS pinball
    FROM fc CROSS JOIN q
    WHERE yhat IS NOT NULL
    GROUP BY 1, 2
    """,
)
def pinball_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of the seasonal-naive forecaster at
    q = {PINBALL_QS} — the metric that scores a forecast AS a quantile:
    q = 0.5 halves into MAE, the 0.1/0.9 pair exposes asymmetric
    under/over-forecasting that `forecast_snaive_backtest`'s MAPE
    averages away. The standard read-out for probabilistic forecast
    evaluation (M5 competition metric).

    Shape: the forecast is a {SNAIVE_LAG_DAYS}-day lag window over the
    per-type day lattice (daily sums rounded to 4dp before the loss so
    both engines compare identical values); the three quantile levels
    ride a 3-row broadcast Expand, and the loss collapses map-side to
    |types| x |q| rows. Everything after the one events->lattice
    aggregation is constant-size in corpus scale."""
    ev = spread(load_table(spark, "events", sf_dir))
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("y"))
    w = Window.partitionBy("event_type").orderBy("day")
    fc = daily.select(
        "event_type",
        "y",
        F.lag("y", SNAIVE_LAG_DAYS).over(w).alias("yhat"),
    ).filter(F.col("yhat").isNotNull())
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in PINBALL_QS])).alias("q")
    )
    err = F.col("y") - F.col("yhat")
    loss = F.when(err >= 0, F.col("q") * err).otherwise((F.col("q") - 1) * err)
    return (
        fc.crossJoin(F.broadcast(qs))
        .groupBy("event_type", "q")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg(loss), 4).alias("pinball"),
        )
    )


# -------------------------------------------------------- survival_c_index

CIDX_EARLY_H = 1  # risk score: activity within the first hour


@query(
    "survival_c_index",
    f"""
    WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
    p AS (SELECT user_id, min(ts) AS p_ts FROM events
          WHERE event_type = 'purchase' GROUP BY 1),
    act AS (
      SELECT e.user_id, CAST(count(*) AS BIGINT) AS score
      FROM events e JOIN f ON e.user_id = f.user_id
      WHERE e.ts < f.first_ts + INTERVAL {CIDX_EARLY_H} HOUR
      GROUP BY 1),
    life AS (
      SELECT f.user_id,
             CASE WHEN coalesce(date_diff('hour', f.first_ts, p.p_ts),
                               {KM_CUTOFF_H + 1}) <= {KM_CUTOFF_H}
                  THEN date_diff('hour', f.first_ts, p.p_ts)
                  ELSE {KM_CUTOFF_H} END AS t,
             CASE WHEN coalesce(date_diff('hour', f.first_ts, p.p_ts),
                               {KM_CUTOFF_H + 1}) <= {KM_CUTOFF_H}
                  THEN 1 ELSE 0 END AS observed
      FROM f LEFT JOIN p USING (user_id)),
    cells AS (
      SELECT t, score, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(observed) AS BIGINT) AS d
      FROM life JOIN act USING (user_id) GROUP BY 1, 2),
    pairs AS (
      SELECT CAST(sum(a.d * b.n) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN a.score > b.score THEN a.d * b.n
                           ELSE 0 END) AS BIGINT) AS n_concordant,
             CAST(sum(CASE WHEN a.score = b.score THEN a.d * b.n
                           ELSE 0 END) AS BIGINT) AS n_tied
      FROM cells a JOIN cells b ON a.t < b.t
      WHERE a.d > 0)
    SELECT n_pairs, n_concordant, n_tied,
           round((n_concordant + 0.5 * n_tied) / n_pairs, 6) AS c_index
    FROM pairs
    """,
)
def survival_c_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harrell's concordance index for the time-to-conversion setting
    `survival_kaplan_meier` estimates: does first-hour activity (the
    risk score) correctly ORDER users by how fast they convert? C
    counts, over every comparable pair (earlier member's event
    observed), how often the earlier converter had the higher score —
    the censoring-aware generalization of `roc_auc` (C = AUC when all
    events are observed), the standard discrimination metric for
    churn/conversion models.

    Shape: users collapse to the (t, score) lattice FIRST (t bounded by
    the {KM_CUTOFF_H}h censoring horizon, score a small activity
    integer), and the pairwise comparison is a lattice self-join on
    t_a < t_b whose cell-count products are exact int64 — user-pair
    counts never materialize. One extra events scan builds the score;
    everything else is KM's life-table machinery. Ties in score
    credit 0.5 (Harrell's convention); ties in t are incomparable and
    excluded, both exact on both engines."""
    e = load_table(spark, "events", sf_dir)
    f = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    act = (
        e.join(f, "user_id")
        .filter(F.col("ts") < F.col("first_ts") + F.expr(f"INTERVAL {CIDX_EARLY_H} HOUR"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    # hour-boundary-crossing count == DuckDB date_diff('hour') (see KM)
    dur = (
        F.unix_timestamp(F.date_trunc("hour", F.col("p_ts")))
        - F.unix_timestamp(F.date_trunc("hour", F.col("first_ts")))
    ) / 3600
    t = F.when(
        F.coalesce(dur, F.lit(KM_CUTOFF_H + 1)) <= KM_CUTOFF_H, dur
    ).otherwise(KM_CUTOFF_H)
    observed = F.when(
        F.coalesce(dur, F.lit(KM_CUTOFF_H + 1)) <= KM_CUTOFF_H, 1
    ).otherwise(0)
    life = f.join(p, "user_id", "left").select(
        "user_id", t.cast("long").alias("t"), observed.alias("observed")
    )
    cells = (
        life.join(act, "user_id")
        .groupBy("t", "score")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("observed").alias("d"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    j = a.filter(F.col("d") > 0).join(b, F.col("a.t") < F.col("b.t"))
    ad, bn = F.col("a.d"), F.col("b.n")
    pairs = j.agg(
        F.sum(ad * bn).alias("n_pairs"),
        F.sum(F.when(F.col("a.score") > F.col("b.score"), ad * bn).otherwise(0)).alias(
            "n_concordant"
        ),
        F.sum(F.when(F.col("a.score") == F.col("b.score"), ad * bn).otherwise(0)).alias(
            "n_tied"
        ),
    )
    return pairs.select(
        "n_pairs",
        "n_concordant",
        "n_tied",
        F.round(
            (F.col("n_concordant") + 0.5 * F.col("n_tied")) / F.col("n_pairs"), 6
        ).alias("c_index"),
    )
