"""Window functions — ranking, frames, lag/lead, top-k.

All stock Spark window exec: one shuffle on the partition key, sort within
partitions, then a streaming frame evaluator. Scale notes:
- A window WITHOUT partitionBy collapses to a single partition — never do
  that at 100 TB; every window here partitions on a real key.
- Global top-k uses orderBy().limit(): Spark plans TakeOrderedAndProject —
  per-partition heaps + driver merge of k rows, no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import ts_micros
from ..functions.exactagg import fgrid_sql, qlong_sql
from ..plans.registry import query
from ..sources import load_table, prefix_scan


@query(
    "window_rank",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (per-group top-k via row_number)."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "window_frame",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_spend,
           round(avg(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS avg_last3
    FROM orders
    """,
)
def window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running + sliding ROWS frames over a deterministic order."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
        ).alias("running_spend"),
        F.round(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), 4).alias("avg_last3"),
    )


@query(
    "window_lag_lead",
    """
    SELECT o_custkey, o_orderkey,
           date_diff('day',
               CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS DATE),
               CAST(o_orderdate AS DATE)) AS days_since_prev
    FROM orders
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): inter-order gap per customer (NULL for the first order)."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag("o_orderdate").over(w).cast("date"),
        ).alias("days_since_prev"),
    )


@query(
    "sort_limit_topk",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 10
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject (per-partition heap of k, driver
    merge) — no global sort even at 100 TB."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(10)
    )


@query(
    "window_distribution",
    """
    SELECT o_orderkey,
           o_orderpriority,
           ntile(4)       OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution analytics per group: ntile buckets, percent_rank,
    cume_dist — the quantile-bucketing shape (e.g. quality-score quartiles
    per language when curating a corpus). One shuffle on the partition
    key; ties broken by key so results are engine-portable."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


RANGE_WINDOW_US = 3_600_000_000  # 1 hour trailing, in microseconds


@query(
    "window_range_interval",
    f"""
    SELECT event_id, user_id,
           count(*) OVER w                   AS n_1h,
           round(sum(value) OVER w, 4)       AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {RANGE_WINDOW_US} PRECEDING AND CURRENT ROW)
    """,
)
def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: per user, each event sees the trailing
    1 hour of events by VALUE distance on the time axis — not a fixed
    row count (ROWS frames, `window_frame`) and not a fixed grid
    (tumbling windows): the frame slides per row and rows with equal
    timestamps are peers. The rolling-feature op of a behavioral
    pipeline ("events/spend in the last hour at every event").

    Ordering is integer epoch MICROSECONDS on both engines (exact; see
    the asof/date conventions — second-granularity casts truncate
    differently cross-engine). One shuffle on user_id; the frame scan is
    linear per partition (Spark keeps a sliding aggregate, not
    re-summing each frame)."""
    e = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_micros("ts"))
        .rangeBetween(-RANGE_WINDOW_US, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 4).alias("sum_1h"),
    )


ROLL_N = 20          # rolling-frame width (preceding rows, current excluded)
ROLL_MIN_OBS = 10    # minimum observations in the frame to emit a z-score
ANOM_Z = 3            # |z| threshold — integer so the flag predicate is exact

# anomaly_rolling_z exact contract (r7 kernel purge): the frame moments
# are exact int64 window sums of the lossless q=100 grid (vq <= 5.7e4,
# vq^2 <= 3.2e9/row; a 20-row frame sum <= 6.5e10 — integer window
# aggregation is order-free by associativity, whatever the engines'
# sliding-frame update order). The z-score is one shared double
# expression over (vq, s1, s2, nn); sd>0 and the |z|>3 anomaly flag are
# INTEGER-EXACT predicates (cross-multiplied, no float boundary at all):
#   sd > 0        <=>  nn*s2 - s1^2 > 0                    (<= 1.3e15)
#   |z| > 3       <=>  (vq*nn - s1)^2 * (nn-1) > 9*nn*(nn*s2 - s1^2)
# magnitudes: (vq*nn - s1)^2 <= (1.3e6)^2 ~ 1.7e12, x19 ~ 3.2e13; RHS
# <= 9*20*1.3e15 ~ 2.3e17 — all comfortably int64 on both engines.
_AZ_VQ = qlong_sql("value", 100)
_AZ_VARN = "(nn * s2 - s1 * s1)"
_AZ_OK = f"(nn >= {ROLL_MIN_OBS} AND {_AZ_VARN} > 0)"
_AZ_Z = (
    f"CASE WHEN {_AZ_OK} THEN "
    + fgrid_sql(
        "(CAST(vq AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(nn AS DOUBLE))"
        f" / sqrt(CAST({_AZ_VARN} AS DOUBLE)"
        " / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0)))",
        4,
    )
    + " END"
)
_AZ_FLAG = (
    f"coalesce({_AZ_OK} AND (vq * nn - s1) * (vq * nn - s1) * (nn - 1)"
    f" > {ANOM_Z * ANOM_Z} * nn * {_AZ_VARN}, false)"
)


@query(
    "anomaly_rolling_z",
    f"""
    WITH w AS (
      SELECT event_id, event_type, {_AZ_VQ} AS vq,
             sum({_AZ_VQ})               OVER f AS s1,
             sum({_AZ_VQ} * {_AZ_VQ})    OVER f AS s2,
             count(*)                    OVER f AS n_obs
      FROM events
      WINDOW f AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN {ROLL_N} PRECEDING AND 1 PRECEDING)),
    n AS (SELECT event_id, event_type, vq, s1, s2,
                 CAST(n_obs AS BIGINT) AS nn FROM w)
    SELECT event_id, event_type,
           {_AZ_Z}    AS zscore,
           {_AZ_FLAG} AS is_anomaly
    FROM n
    """,
)
def anomaly_rolling_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly flag: each event scored against the
    trailing {ROLL_N}-event mean/stddev of its own event_type (frame
    excludes the current row, so a spike cannot mask itself). The frame
    needs >= {ROLL_MIN_OBS} observations to emit a score — warm-up rows
    get NULL, not a noisy estimate. One shuffle on event_type; both
    int64 moment sums share the same frame, so Catalyst computes them
    in a single Window operator over one sort — same plan shape as the
    float form. At 100 TB the same query partitions by
    (event_type, day) with a {ROLL_N}-row carry-in, or becomes the
    applyInPandasWithState streaming twin (bounded state: {ROLL_N}
    ints per key).

    Correctness (r7 purge): no rolling avg/stddev_samp kernels — exact
    int64 frame moments on the lossless q=100 grid, one shared double
    expression for z, and INTEGER-EXACT predicates for both the sd>0
    guard and the |z|>{ANOM_Z} flag (cross-multiplied — the boolean
    column cannot sit on a float boundary at all; budgets in the
    module comment). The r5 heaps FAIL class is unreachable here."""
    e = load_table(spark, "events", sf_dir)
    f = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-ROLL_N, -1)
    )
    vq = F.expr(_AZ_VQ)
    n = e.select(
        "event_id",
        "event_type",
        vq.alias("vq"),
        F.sum(vq).over(f).alias("s1"),
        F.sum(vq * vq).over(f).alias("s2"),
        F.count(F.lit(1)).over(f).cast("bigint").alias("nn"),
    )
    return n.select(
        "event_id",
        "event_type",
        F.expr(_AZ_Z).alias("zscore"),
        F.expr(_AZ_FLAG).alias("is_anomaly"),
    )


@query(
    "window_ntile",
    """
    SELECT o_orderkey, o_orderpriority,
           ntile(10) OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey) AS price_decile
    FROM orders
    """,
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile decile bucketing per priority class — the windowed quantile
    assignment used for quality-tier splits. One shuffle on the partition
    key, one sort; the o_orderkey tie-breaker makes bucket boundaries
    deterministic cross-engine (ntile's division of ties is
    order-dependent, so the ORDER BY must be a total order)."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(10).over(w).alias("price_decile"),
    )


TOPK_PER_GROUP = 3


@query(
    "topk_per_group_agg",
    f"""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= {TOPK_PER_GROUP}
    """,
)
def topk_per_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k WITHOUT a window sort: collect each group's
    (price, key) structs in one hash aggregate, sort_array + slice keeps
    k, posexplode re-emits ranked rows. Same result as `window_rank`'s
    row_number formulation (the oracle IS that formulation) but the plan
    is aggregate-shaped: map-side partial collect, one shuffle of
    per-group lists, no per-partition global sort. The trade is explicit:
    a group's list must fit in memory, so this is the right plan when
    groups are bounded (per-customer, per-session) and the WRONG one for
    open-ended groups — `window_rank` covers that regime. A true
    bounded-state partial top-k would need a custom Aggregator (JVM);
    slice-after-partial-collect is the Python-side approximation of it."""
    o = load_table(spark, "orders", sf_dir)
    # sort key: (-price, orderkey) ascending == (price DESC, orderkey ASC)
    item = F.struct(
        (-F.col("o_totalprice")).alias("neg_price"), F.col("o_orderkey").alias("k")
    )
    agg = o.groupBy("o_custkey").agg(
        F.slice(F.array_sort(F.collect_list(item)), 1, TOPK_PER_GROUP).alias("top")
    )
    return agg.select(
        "o_custkey", F.posexplode("top").alias("pos", "item")
    ).select(
        "o_custkey",
        F.col("item.k").alias("o_orderkey"),
        (-F.col("item.neg_price")).alias("o_totalprice"),
        (F.col("pos") + 1).cast("int").alias("rn"),
    )


@query(
    "share_of_group",
    """
    WITH tot AS (SELECT sum(o_totalprice) AS grand FROM orders)
    SELECT o_orderkey, o_custkey,
           round(o_totalprice / sum(o_totalprice) OVER (PARTITION BY o_custkey), 6)
               AS share_of_customer,
           round(o_totalprice / grand, 9) AS share_of_total
    FROM orders, tot
    """,
)
def share_of_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each order's share of its customer's spend AND of the grand
    total — the two normalization denominators computed the two scalable
    ways: the per-group one as an unordered window sum (one shuffle on
    o_custkey, no sort — frameless windows aggregate the whole
    partition), the global one as a 1-row aggregate broadcast back
    (NEVER a global window, which would single-partition the table)."""
    o = load_table(spark, "orders", sf_dir)
    grand = o.agg(F.sum("o_totalprice").alias("grand"))
    w = Window.partitionBy("o_custkey")
    return (
        o.crossJoin(F.broadcast(grand))
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") / F.sum("o_totalprice").over(w), 6).alias(
                "share_of_customer"
            ),
            F.round(F.col("o_totalprice") / F.col("grand"), 9).alias("share_of_total"),
        )
    )


@query(
    "first_last_nonnull",
    """
    SELECT DISTINCT user_id,
           first_value(props IGNORE NULLS) OVER w AS first_props,
           last_value(props IGNORE NULLS)  OVER w AS last_props
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def first_last_nonnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First and last NON-NULL attribute per user in event-time order —
    the attribute-carry-forward shape (earliest known profile vs current
    one) with IGNORE NULLS semantics, the part plain min_by/max_by gets
    wrong (they'd happily return a NULL props from the extreme row).
    Full-partition frame + DISTINCT collapses to one row per user; the
    whole thing is one shuffle on user_id."""
    e = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "user_id",
        F.first_value(F.col("props"), ignoreNulls=True).over(w).alias("first_props"),
        F.last_value(F.col("props"), ignoreNulls=True).over(w).alias("last_props"),
    ).distinct()


@query(
    "weighted_percentile",
    """
    WITH w AS (
      SELECT l_returnflag AS grp, l_extendedprice AS v, l_quantity AS wt
      FROM lineitem),
    tot AS (SELECT grp, round(sum(wt), 4) AS total_w FROM w GROUP BY 1),
    cum AS (
      SELECT grp, v, wt,
             round(sum(wt) OVER (PARTITION BY grp ORDER BY v, wt
                                 ROWS UNBOUNDED PRECEDING), 4) AS cw
      FROM w)
    SELECT c.grp, min(c.v) AS weighted_median
    FROM cum c JOIN tot t USING (grp)
    WHERE c.cw >= 0.5 * t.total_w
    GROUP BY c.grp
    """,
)
def weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median per group: the smallest value whose running
    weight crosses half the total — quantity-weighted price here, token-
    weighted quality score in a curation pipeline (a 10k-token doc
    should pull the cutoff 10k times harder than a tweet). Spark has no
    weighted percentile aggregate; the cumulative-weight window IS the
    textbook definition, executed distributed.

    Shape: one shuffle sorts each group once for the running weight; the
    per-group total broadcasts back (|groups| rows); the crossing row
    falls out of a min() aggregate — no second sort. Weights and the
    running sum round at 4 on both engines so the crossing comparison
    can't flip on FP dust. At 100 TB this is still one sort shuffle,
    same cost class as any windowed analytic; for repeated quantiles at
    many q's, derive them all from the SAME cum table (the window is
    shared)."""
    li = load_table(spark, "lineitem", sf_dir)
    w = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").alias("wt"),
    )
    tot = w.groupBy("grp").agg(F.round(F.sum("wt"), 4).alias("total_w"))
    cw = (
        Window.partitionBy("grp")
        .orderBy("v", "wt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = w.select(
        "grp", "v", "wt", F.round(F.sum("wt").over(cw), 4).alias("cw")
    )
    return (
        cum.join(F.broadcast(tot), "grp")
        .filter(F.col("cw") >= 0.5 * F.col("total_w"))
        .groupBy("grp")
        .agg(F.min("v").alias("weighted_median"))
    )


@query(
    "max_drawdown",
    """
    WITH series AS (
      SELECT user_id, epoch_us(ts) AS tus, event_id, value,
             max(value) OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id
                              ROWS UNBOUNDED PRECEDING) AS peak
      FROM events)
    SELECT user_id,
           round(max(peak - value), 4) AS max_drawdown,
           round(max(CASE WHEN peak > 0 THEN (peak - value) / peak
                          ELSE 0 END), 6) AS max_drawdown_frac
    FROM series
    GROUP BY user_id
    """,
)
def max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user: the deepest drop from a running peak,
    absolute and as a fraction of the peak — the running-extreme window
    class (peak tracking, high-water marks, SLA floors), distinct from
    running sums (sessionize) and running distincts.

    Shape: ONE window (running max) and the final aggregate share the
    user_id partitioning — a single shuffle; the drawdown math is pure
    codegen projection between them. State per row in the frame is
    O(1) (a running max), so 100 TB changes nothing structurally."""
    e = load_table(spark, "events", sf_dir)
    tus = ts_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(tus, F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    series = e.select(
        "user_id",
        "value",
        F.max("value").over(w).alias("peak"),
    )
    dd = F.col("peak") - F.col("value")
    return series.groupBy("user_id").agg(
        F.round(F.max(dd), 4).alias("max_drawdown"),
        F.round(
            F.max(F.when(F.col("peak") > 0, dd / F.col("peak")).otherwise(0.0)), 6
        ).alias("max_drawdown_frac"),
    )


H2D_VALUE_BINS = 10


@query(
    "histogram2d_heatmap",
    f"""
    WITH b AS (
      SELECT min(value) AS vlo, max(value) AS vhi FROM events),
    binned AS (
      SELECT CAST(hour(e.ts) AS INTEGER) AS hour_of_day,
             least(1 + CAST(floor((e.value - b.vlo)
                                  / ((b.vhi - b.vlo) / {H2D_VALUE_BINS}))
                            AS INTEGER),
                   {H2D_VALUE_BINS}) AS value_bin
      FROM events e CROSS JOIN b)
    SELECT hour_of_day, value_bin, count(*) AS n
    FROM binned GROUP BY 1, 2
    """,
)
def histogram2d_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate histogram (hour-of-day x value decile): the heatmap
    backing data for load/usage dashboards and the 2-D drift check
    (is tonight's value distribution shaped like last night's?).

    Shape: a 1-row min/max bounds aggregate broadcasts back over the
    scan; binning is pure codegen — the SAME floor arithmetic on both engines
    (width_bucket's internal FP op order is engine-defined, so it is
    avoided), with the max value clamped into the top bin — and the
    (24 x {H2D_VALUE_BINS})-cell result collapses map-side. One
    data-sized pass, scale-free output."""
    e = load_table(spark, "events", sf_dir)
    b = e.agg(F.min("value").alias("vlo"), F.max("value").alias("vhi"))
    return (
        e.crossJoin(F.broadcast(b))
        .select(
            F.hour("ts").cast("int").alias("hour_of_day"),
            # identical floor arithmetic on BOTH engines (width_bucket's
            # internal FP op order is not specified cross-engine; a
            # boundary value must bin the same way on both sides)
            F.least(
                (
                    1
                    + F.floor(
                        (F.col("value") - F.col("vlo"))
                        / ((F.col("vhi") - F.col("vlo")) / H2D_VALUE_BINS)
                    ).cast("int")
                ),
                F.lit(H2D_VALUE_BINS),
            ).alias("value_bin"),
        )
        .groupBy("hour_of_day", "value_bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ROLLCORR_HOURS = 24


@query(
    "window_rolling_corr",
    f"""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
             round(avg(CASE WHEN event_type = 'view'  THEN value END), 6) AS x,
             round(avg(CASE WHEN event_type = 'click' THEN value END), 6) AS y
      FROM events GROUP BY 1),
    dense AS (SELECT * FROM hourly WHERE x IS NOT NULL AND y IS NOT NULL),
    win AS (
      SELECT hour_ts,
             count(*)   OVER w AS n,
             sum(x)     OVER w AS sx,
             sum(y)     OVER w AS sy,
             sum(x * x) OVER w AS sxx,
             sum(y * y) OVER w AS syy,
             sum(x * y) OVER w AS sxy
      FROM dense
      WINDOW w AS (ORDER BY hour_ts ROWS BETWEEN {ROLLCORR_HOURS - 1} PRECEDING
                   AND CURRENT ROW))
    SELECT hour_ts, CAST(n AS INTEGER) AS n,
           CASE WHEN n >= 2
                     AND (n * sxx - sx * sx) > 0
                     AND (n * syy - sy * sy) > 0
                THEN round((n * sxy - sx * sy)
                           / (sqrt(n * sxx - sx * sx)
                              * sqrt(n * syy - sy * sy)), 4)
           END AS rolling_corr
    FROM win
    """,
)
def window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Pearson correlation between two metric series (hourly
    view-rate vs click-rate) over a trailing {ROLLCORR_HOURS}-hour
    frame — the co-movement monitor (are these feeds decoupling?) that
    static corr (column_corr) can't time-localize.

    Shape: the only data-sized pass is the conditional-avg hourly
    pivot; all six correlation components come from ONE window over the
    tiny hourly series (shared frame, one sort), and the Pearson
    formula is spelled EXPLICITLY with one op order on both engines —
    engine-native corr() aggregates use different accumulation schemes
    (Welford vs power sums) whose last-ulp disagreement would flip the
    rounded value. Degenerate frames (n<2 or zero variance) yield NULL
    on both sides. Inputs quantize at 6dp so the power sums start from
    identical doubles."""
    e = load_table(spark, "events", sf_dir)
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_ts")).agg(
        F.round(
            F.avg(F.when(F.col("event_type") == "view", F.col("value"))), 6
        ).alias("x"),
        F.round(
            F.avg(F.when(F.col("event_type") == "click", F.col("value"))), 6
        ).alias("y"),
    )
    dense = hourly.filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    w = Window.orderBy("hour_ts").rowsBetween(-(ROLLCORR_HOURS - 1), 0)
    win = dense.select(
        "hour_ts",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return win.select(
        "hour_ts",
        F.col("n").cast("int").alias("n"),
        F.when(
            (F.col("n") >= 2) & (vx > 0) & (vy > 0),
            F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 4),
        ).alias("rolling_corr"),
    )


# ---------------------------------------------------------------------------
# 2D skyline / Pareto frontier
# ---------------------------------------------------------------------------
@query(
    "skyline_pareto",
    """
    SELECT p_partkey, p_retailprice, p_size FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
    """,
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier over (minimize price, maximize size): parts no
    other part beats on both axes — the multi-objective shortlist query
    (cheapest-per-capability in catalog/config search, candidate
    pruning in data curation).

    Scale shape: the textbook NOT-EXISTS dominance test is an O(n²)
    self-anti-join; the 2D case falls to ONE sorted scan instead. Done
    distributed: collapse to per-price group maxima (one shuffle,
    map-side combined), then a two-pass prefix-MAX in price order —
    range-partition by price, per-partition running max, per-partition
    maxima collected (partition-count-sized, same bounded driver
    constant as running_total's offsets) and rebroadcast as prefix
    offsets — so no single-partition window ever materializes. A point
    survives iff no strictly-cheaper group reaches its size
    (m_lt < size) and nothing in its own price group is strictly larger
    (size == group max). Ties on both axes are mutually non-dominating
    and all kept, matching the oracle's strict-dominance semantics."""
    p = load_table(spark, "part", sf_dir)
    pts = p.select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )
    gp = pts.groupBy("price").agg(F.max("size").alias("m_eq"))
    SENT = -(1 << 62)
    ranged, off = prefix_scan(gp, ["price"], F.max("m_eq"), max, SENT)
    w_run = (
        Window.partitionBy("__pid")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lag = Window.partitionBy("__pid").orderBy("price")
    g2 = ranged.withColumn("pmax", F.max("m_eq").over(w_run)).withColumn(
        "m_lt",
        F.greatest(F.coalesce(F.lag("pmax", 1).over(w_lag), F.lit(SENT)), off),
    )
    res = pts.join(g2.select("price", "m_eq", "m_lt"), "price")
    keep = (F.col("m_lt") < F.col("size")) & (F.col("size") == F.col("m_eq"))
    return res.filter(keep).select(
        "p_partkey",
        F.col("price").alias("p_retailprice"),
        F.col("size").cast("int").alias("p_size"),
    )
