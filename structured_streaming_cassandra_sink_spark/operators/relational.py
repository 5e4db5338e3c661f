"""Relational core — scans, filters, JSON, explode, dates, dedup, joins, aggs.

Generalizes the reference's capability classes (SURVEY.md §2.1 #1-#8, #10)
into a full relational operator surface, all stock Catalyst (§4.2): every
query here compiles to whole-stage-codegen'd JVM plans with predicate
pushdown and column pruning; no Python executes per-row.

Scale notes per operator are inline; the common rules:
- dimension joins (region/nation/customer/supplier/part) are broadcast —
  at 100 TB the fact table never shuffles for them;
- aggregates are hash-aggregates with map-side partials (Spark default);
- floating aggregates round(…,4) to stay bit-stable vs the oracle.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import ts_millis
from ..functions.exactagg import avg_exact_sql, sum_exact_sql
from ..plans.registry import query
from ..sources import load_table, prefix_scan
from ..sources.artifacts import artifact_dir, current, publish


# ---------------------------------------------------------------------------
# Scan / projection / cast  (ref cassandra_sink.scala:113 — CAST(value AS STRING))
# ---------------------------------------------------------------------------
@query(
    "scan_project_cast",
    """
    SELECT l_orderkey,
           CAST(l_linenumber AS BIGINT)  AS linenum_long,
           CAST(l_orderkey AS VARCHAR)   AS orderkey_str,
           CAST(l_shipdate AS DATE)      AS ship_date,
           l_returnflag
    FROM lineitem
    """,
)
def scan_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + casts pushed into the parquet scan (column pruning:
    only 4 of 11 lineitem columns are read)."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("linenum_long"),
        F.col("l_orderkey").cast("string").alias("orderkey_str"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        "l_returnflag",
    )


# ---------------------------------------------------------------------------
# Filter (ref cassandra_sink.scala:120 — .filter("fx_marker != ''"))
# ---------------------------------------------------------------------------
@query(
    "filter_predicate",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem
    WHERE l_returnflag <> 'A'
      AND l_quantity > 25
      AND l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    """,
)
def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicate; `<>` is null-rejecting exactly like the
    reference's `!=` filter (SQL three-valued logic — a NULL returnflag row
    would be dropped, the engine's documented semantics). All four
    conjuncts reach the parquet reader as PushedFilters."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.filter(
        (F.col("l_returnflag") != "A")
        & (F.col("l_quantity") > 25)
        & (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")


# ---------------------------------------------------------------------------
# JSON parse + flatten (ref cassandra_sink.scala:116)
# ---------------------------------------------------------------------------
@query(
    "json_extract",
    """
    SELECT event_id, user_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL
    """,
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with a declared schema (never schema_of_json in prod —
    inference is a two-pass scan at 100 TB). Malformed JSON yields NULL,
    filtered here as the explicit bad-records policy."""
    from ..schemas import EVENT_PROPS

    ev = load_table(spark, "events", sf_dir)
    return (
        ev.select(
            "event_id",
            "user_id",
            F.from_json(F.col("props"), EVENT_PROPS).getField("k").alias("k"),
        )
        .filter(F.col("k").isNotNull())
    )


# ---------------------------------------------------------------------------
# Split + explode (ref cassandra_sink.scala:114 — flatMap(_.split("\n")))
# ---------------------------------------------------------------------------
@query(
    "split_explode",
    """
    SELECT doc_id, unnest(string_split(text, ' ')) AS word
    FROM documents
    WHERE doc_id % 10 = 0
    """,
)
def split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's typed flatMap, re-expressed as explode(split(...)):
    stays inside Catalyst/codegen instead of inserting an object-
    serialization barrier (SURVEY.md §4.1). Generates rows 1:N — at scale
    the explode multiplies partition size, so upstream filters must come
    first (they do: the filter is pushed below the generator)."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
    )


# ---------------------------------------------------------------------------
# Derived date columns (ref cassandra_sink.scala:119)
# ---------------------------------------------------------------------------
@query(
    "date_derive",
    """
    SELECT event_id,
           epoch_ms(ts)       AS ts_millis,
           CAST(ts AS DATE)   AS event_date,
           hour(ts)           AS event_hour
    FROM events
    """,
)
def date_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch<->timestamp<->date derivations. Modern form of the
    reference's  millis/1000.0 -> from_unixtime -> to_date  chain:
    unix_millis/timestamp_millis are exact integer paths (the reference's
    double division loses sub-millisecond precision — parity-tested in
    tests/test_reference_parity.py)."""
    ev = load_table(spark, "events", sf_dir)
    return ev.select(
        "event_id",
        ts_millis("ts").alias("ts_millis"),
        F.to_date(F.col("ts")).alias("event_date"),
        F.hour(F.col("ts")).alias("event_hour"),
    )


# ---------------------------------------------------------------------------
# Dedup-by-key / latest-per-key (ref sink PK upsert, cassandra_sink.scala:71-79)
# ---------------------------------------------------------------------------
@query(
    "dedup_by_key",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    """,
)
def dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest order per customer — the batch form of the Cassandra PK
    upsert. One shuffle on the key; deterministic tie-break."""
    from ..plans.flagship import latest_per_key

    orders = load_table(spark, "orders", sf_dir)
    return latest_per_key(orders, "o_custkey", ["o_orderdate", "o_orderkey"]).select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# Hash aggregate (TPC-H Q1 shape)
# ---------------------------------------------------------------------------
@query(
    "groupby_agg",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sum_exact_sql("l_quantity", 10_000)}                   AS sum_qty,
           {sum_exact_sql("l_extendedprice", 100)}                 AS sum_base_price,
           {sum_exact_sql("l_extendedprice * (1 - l_discount)", 10_000)}
                                                                   AS sum_disc_price,
           {avg_exact_sql("l_quantity", 1_000_000)}                AS avg_qty,
           {avg_exact_sql("l_discount", 1_000_000)}                AS avg_disc,
           count(*)                                                AS count_order,
           count(DISTINCT l_partkey)                               AS n_parts
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: map-side partial aggregation then a tiny shuffle of
    partials (group cardinality ~6) — the pattern that survives 100 TB.
    count(DISTINCT) triggers Spark's expand+two-phase plan; still bounded
    because the group count is tiny.

    Money/quantity aggregates use the exact quantized-int form
    (functions/exactagg.py) — plain round(sum(double),4) flipped its 4th
    decimal against DuckDB at the 10x-sf0.1 sweep (1e11-magnitude sums
    need every significant digit; partial-agg order differs). Overflow
    budget: price*1e4 ≈ 1e9/row → exact past 1e9 rows/group in int64."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(sum_exact_sql("l_quantity", 10_000)).alias("sum_qty"),
            F.expr(sum_exact_sql("l_extendedprice", 100)).alias("sum_base_price"),
            F.expr(
                sum_exact_sql("l_extendedprice * (1 - l_discount)", 10_000)
            ).alias("sum_disc_price"),
            F.expr(avg_exact_sql("l_quantity", 1_000_000)).alias("avg_qty"),
            F.expr(avg_exact_sql("l_discount", 1_000_000)).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube
# ---------------------------------------------------------------------------
@query(
    "grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus,
           count(*)                                 AS n,
           {sum_exact_sql("l_extendedprice", 100)}  AS revenue
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: Spark plans this as a single Expand + hash aggregate —
    one pass over the fact table produces all grouping levels. Revenue
    uses the exact quantized-int sum (functions/exactagg.py): the grand-
    total row sums the WHOLE fact table, the first place the 10x sweep
    caught round(sum(double),4) flipping against DuckDB."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(sum_exact_sql("l_extendedprice", 100)).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------
@query(
    "join_inner_broadcast",
    """
    SELECT r.r_name, count(*) AS n_customers, round(sum(c.c_acctbal), 4) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def join_inner_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema rollup: both dims broadcast (explicit hint; at 100 TB the
    customer/fact side never moves — verified BroadcastHashJoin in
    tests/test_plans.py)."""
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 4).alias("total_acctbal"),
        )
    )


@query(
    "join_left",
    """
    SELECT c.c_custkey,
           count(o.o_orderkey)                          AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 4)   AS total_spent
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no orders; count(col)
    skips the nulls the outer join introduces."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias("total_spent"),
        )
    )


@query(
    "join_semi",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join: no row multiplication, the probe side
    streams — the scalable form of `IN (subquery)`."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_anti",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left-anti join (null-safe, unlike NOT IN). Filtered to
    status 'P' so the result is non-empty at every sf (every customer has
    some order in the testdata)."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_range",
    """
    SELECT o.o_orderpriority,
           count(*)                                   AS n_late,
           round(avg(date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE))), 4) AS avg_days_late
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY o.o_orderpriority
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join + range predicate (theta residual). The equi part drives
    the shuffle/join strategy; the range condition is a post-join filter —
    the only theta-join shape that scales (a pure cross-range join would be
    O(n*m) and must instead be bucketized; see operators/similarity.py for
    the bucketed pattern)."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    joined = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_late"),
        F.round(
            F.avg(F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))),
            4,
        ).alias("avg_days_late"),
    )


# ---------------------------------------------------------------------------
# Skew mitigation: salted join
# ---------------------------------------------------------------------------
def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salts: int = 8,
    salt_source: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where a few hot keys would overload single reducers:
    fact rows get a deterministic salt in [0, salts); the dim side is
    replicated once per salt; the join key becomes (key, salt), spreading
    each hot key over `salts` reducers.

    Semantically identical to ``fact.join(dim, key, how)`` — salt columns
    are internal and dropped. AQE's skew-join split (enabled in
    session.py) handles moderate skew on its own; explicit salting is for
    the pathological keys AQE can't split (single-key partitions) and for
    deterministic-layout pipelines with AQE off. Cost: dim side grows
    `salts`x — keep salts ~ (hot-key rows / target partition rows).

    ``salt_source``: column whose hash spreads rows (default: the whole
    row via monotonically increasing id is NOT used — nondeterministic
    across retries; pick a stable high-cardinality column)."""
    src = F.xxhash64(F.col(salt_source)) if salt_source else F.spark_partition_id()
    fact_s = fact.withColumn("__salt", F.pmod(src, F.lit(salts)).cast("int"))
    dim_s = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    out = fact_s.join(dim_s, [key, "__salt"], how)
    return out.drop("__salt")


@query(
    "join_skew_salted",
    f"""
    WITH dim AS (SELECT DISTINCT l_returnflag,
                        'flag_' || l_returnflag AS flag_name
                 FROM lineitem)
    SELECT d.flag_name,
           count(*) AS n_items,
           {sum_exact_sql("l.l_extendedprice * (1 - l.l_discount)", 10_000, 2)}
               AS revenue
    FROM lineitem l JOIN dim d ON l.l_returnflag = d.l_returnflag
    GROUP BY d.flag_name
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pathological skew demo: the join key (l_returnflag) has 3 distinct
    values, so an unsalted shuffle join lands the whole fact table on 3
    reducers. Salting spreads each flag over 8; the oracle is the plain
    join — salting must be invisible in the result."""
    li = load_table(spark, "lineitem", sf_dir)
    dim = (
        li.select("l_returnflag")
        .distinct()
        .withColumn("flag_name", F.concat(F.lit("flag_"), F.col("l_returnflag")))
    )
    joined = salted_join(li, dim, "l_returnflag", salts=8, salt_source="l_orderkey")
    # exact quantized-int revenue (functions/exactagg.py): 2M-row-per-flag
    # float sums flipped the cents digit against DuckDB at the 10x sweep
    return joined.groupBy("flag_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.expr(
            sum_exact_sql("l_extendedprice * (1 - l_discount)", 10_000, 2)
        ).alias("revenue"),
    )


@query(
    "pivot_agg",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS qty_F,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS qty_O
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): quantity by return flag x line status. Spark
    plans pivot as a single aggregate with one conditional sum per pivot
    value — explicit values list (no extra distinct-scan job) keeps it a
    one-pass map-side partial agg at scale."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 4))
        .select(
            "l_returnflag",
            F.col("F").alias("qty_F"),
            F.col("O").alias("qty_O"),
        )
    )


@query(
    "unpivot_melt",
    """
    SELECT o_orderkey, metric, round(val, 4) AS val
    FROM (
      SELECT o_orderkey,
             round(o_totalprice, 4)          AS totalprice,
             CAST(o_custkey AS DOUBLE)       AS custkey
      FROM orders)
    UNPIVOT (val FOR metric IN (totalprice, custkey))
    """,
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long, a.k.a. melt): one row per (key, metric).
    Spark plans this as Expand — each input row emits N output rows
    map-side, no shuffle at all."""
    o = load_table(spark, "orders", sf_dir)
    wide = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice"), 4).alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"),
    )
    return wide.unpivot(
        "o_orderkey", ["totalprice", "custkey"], "metric", "val"
    ).select("o_orderkey", "metric", F.round("val", 4).alias("val"))


@query(
    "map_ops",
    """
    SELECT user_id, event_type, n
    FROM (SELECT user_id, event_type, count(*) AS n
          FROM events GROUP BY user_id, event_type)
    """,
)
def map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round-trip: per-user counts packed into a
    map<event_type, n> (map_from_entries over collect_list) and exploded
    back to rows. Exercises map build/explode machinery; the explode is
    of a post-aggregation ATTRIBUTE, which is the safe explode shape
    (see dedup.shingle_rows). Oracle is the flat GROUP BY the map
    round-trips to."""
    e = load_table(spark, "events", sf_dir)
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    mapped = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("type_counts")
    )
    return mapped.select(
        "user_id", F.explode("type_counts").alias("event_type", "n")
    )


@query(
    "join_null_safe",
    """
    WITH e AS (SELECT event_id, user_id,
                      CASE WHEN event_id % 7 = 0 THEN NULL
                           ELSE event_type END AS et
               FROM events),
         d AS (SELECT DISTINCT CASE WHEN event_id % 7 = 0 THEN NULL
                                    ELSE event_type END AS et,
                      count(*) AS n
               FROM events
               GROUP BY 1)
    SELECT e.event_id, e.et, d.n
    FROM e JOIN d ON e.et IS NOT DISTINCT FROM d.et
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys MATCH
    each other instead of vanishing — the semantics dimension regular
    equi-joins silently drop. Spark plans <=> as a hash join key (null
    becomes an ordinary key value), so this costs the same as = at
    scale; a synthetic NULL stripe (event_id % 7) exercises it."""
    e = load_table(spark, "events", sf_dir).select(
        "event_id",
        "user_id",
        F.when(F.col("event_id") % 7 == 0, None)
        .otherwise(F.col("event_type"))
        .alias("et"),
    )
    d = (
        e.groupBy("et")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("et").alias("det"), "n")
    )
    return e.join(d, F.col("et").eqNullSafe(F.col("det"))).select(
        "event_id", "et", "n"
    )


@query(
    "join_multiway_revenue",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           count(*)                                          AS n_items
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def join_multiway_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table star-ish join (local supplier volume per
    nation) — THE join-reordering / broadcast showcase. Declared as plain
    equi-joins and left to Catalyst + AQE: region/nation/supplier/customer
    are dimension-sized and broadcast, so the only wide exchange is
    orders⋈lineitem on orderkey; the date filter is pushed into the
    orders scan (sargable) before that shuffle. The c_nationkey =
    s_nationkey residual ("customer and supplier in the same nation") is
    what makes the ordering non-trivial — a bad plan shuffles lineitem
    twice; the broadcast plan never reshuffles the fact table."""
    r = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    n = load_table(spark, "nation", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir)
    dims = (
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    )
    sup = F.broadcast(s.join(dims, s.s_nationkey == n.n_nationkey))
    cust = F.broadcast(c)
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(sup, li.l_suppkey == s.s_suppkey)
        .join(
            cust,
            (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey),
        )
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "join_full_outer",
    """
    WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000),
         o AS (SELECT o_custkey, count(*) AS n_orders,
                      round(sum(o_totalprice), 4) AS total_spend
               FROM orders GROUP BY o_custkey)
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           c_name, n_orders, total_spend
    FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER completes the join matrix (inner/left/semi/anti/range/
    null-safe/full): high-balance customers vs per-customer order
    rollups — unmatched rows survive on BOTH sides (rich customers who
    never ordered; orders whose customer fails the balance gate).
    Full outer cannot broadcast (both sides must surface unmatched
    rows) — Spark correctly plans a SortMergeJoin on the key; at scale
    this is the one join type where co-partitioned bucketing
    (sources/bucketed.py) is the only shuffle-elimination option."""
    c = load_table(spark, "customer", sf_dir).filter(F.col("c_acctbal") > 5000).select(
        "c_custkey", "c_name"
    )
    o = (
        load_table(spark, "orders", sf_dir)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_spend"),
        )
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        F.coalesce(c.c_custkey, o.o_custkey).alias("custkey"),
        "c_name",
        "n_orders",
        "total_spend",
    )


_PROFILE_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


@query(
    "table_profile",
    " UNION ALL ".join(
        f"""
    SELECT '{c}' AS column_name,
           count(*)                    AS n_rows,
           count(*) - count({c})      AS n_nulls,
           count(DISTINCT {c})        AS n_distinct
    FROM events"""
        for c in _PROFILE_COLS
    ),
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling operator: per-column row/null/distinct counts —
    the schema-drift and ingest-health monitor every pipeline runs on
    arrival (a null-rate jump or distinct-count collapse is the first
    symptom of an upstream break).

    Scale shape: ONE scan. The multi-column count(DISTINCT) aggregate
    plans as a single Expand (rows x n_cols) + partial aggs — Spark's
    standard multi-distinct strategy — NOT one scan per column like the
    naive UNION ALL the oracle runs; at 100 TB swap the exact distincts
    for approx_count_distinct and the Expand collapses to one pass of
    HLL sketches. The profile row set is n_cols wide — driver-tiny."""
    e = load_table(spark, "events", sf_dir)
    agged = e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"nn_{c}")
            for c in _PROFILE_COLS
        ],
        *[F.countDistinct(c).alias(f"nd_{c}") for c in _PROFILE_COLS],
    )
    stacked = ", ".join(
        f"'{c}', nn_{c}, nd_{c}" for c in _PROFILE_COLS
    )
    return agged.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stacked}) AS (column_name, n_nulls, n_distinct)"
        ),
        "n_rows",
    ).select("column_name", "n_rows", "n_nulls", "n_distinct")


@query(
    "cube_agg",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*)                              AS n,
           {sum_exact_sql("o_totalprice", 100)}  AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping combinations (status x priority marginals
    and the grand total) — like `grouping_sets`' ROLLUP, one Expand +
    hash-agg pass over the fact table; the Expand factor is 2^k rows
    per input, so k stays small by design at scale."""
    o = load_table(spark, "orders", sf_dir)
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(sum_exact_sql("o_totalprice", 100)).alias("revenue"),
    )


@query(
    "join_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate <  TIMESTAMP '1996-07-01'
      AND l_shipdate  >= TIMESTAMP '1996-07-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    """,
)
def join_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): unshipped revenue per order for
    one customer segment — the classic selective-dimension -> fact -> fact
    chain. Plan: the segment-filtered customer table broadcasts into
    orders (date filter pushed to the orders scan), the surviving orders
    broadcast-or-shuffle into lineitem (ship-date filter pushed to ITS
    scan), and the final groupBy runs on l_orderkey — which the
    orders⋈lineitem join already partitioned by, so AQE elides the
    second exchange. At 100 TB the only wide shuffle is lineitem on
    orderkey, and only for rows surviving the pushed l_shipdate filter."""
    cutoff = F.lit("1996-07-01").cast("timestamp")
    c = load_table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, "orders", sf_dir).filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") >= cutoff
    )
    joined = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    )
    return joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue")
    )


# ---------------------------------------------------------------------------
# Subqueries — EXISTS and correlated scalar (Catalyst decorrelation)
# ---------------------------------------------------------------------------
@query(
    "subquery_exists",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one late-shipping lineitem,
    counted per priority. Written as a correlated EXISTS on purpose:
    Catalyst DECORRELATES it into a left-semi hash join on l_orderkey
    (RewriteCorrelatedScalarSubquery/RewritePredicateSubquery), so the
    physical plan is one shuffle of each table on the join key plus a
    tiny-cardinality aggregate — no per-row subquery execution exists at
    any scale. The non-equi ship-after-order predicate rides ON the semi
    join, evaluated during the probe, not as a post-filter."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("__sq_orders")
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("__sq_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM __sq_orders o
        WHERE EXISTS (
          SELECT 1 FROM __sq_lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        )
        GROUP BY o_orderpriority
        """
    )


@query(
    "subquery_correlated_scalar",
    """
    SELECT l_returnflag,
           round(sum(l_extendedprice), 4) AS small_qty_revenue,
           count(*)                       AS n_small
    FROM lineitem l1
    WHERE l_quantity < (
      SELECT 0.5 * avg(l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = l1.l_partkey
    )
    GROUP BY l_returnflag
    """,
)
def subquery_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lineitems whose quantity is below half their
    part's average. The correlated scalar subquery decorrelates into
    (per-partkey aggregate) JOIN (lineitem) — the aggregate side is one
    row per partkey, so at 100 TB the plan is a shuffle of lineitem on
    partkey against a much smaller pre-aggregated build side, not a
    re-scan of lineitem per row. Filter order matters: the quantity
    predicate can only be applied AFTER the join (it references the
    subquery result), which Catalyst handles by fusing it into the join
    condition."""
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("__sq_lineitem2")
    return spark.sql(
        """
        SELECT l_returnflag,
               round(sum(l_extendedprice), 4) AS small_qty_revenue,
               count(*)                       AS n_small
        FROM __sq_lineitem2 l1
        WHERE l_quantity < (
          SELECT 0.5 * avg(l_quantity) FROM __sq_lineitem2 l2
          WHERE l2.l_partkey = l1.l_partkey
        )
        GROUP BY l_returnflag
        """
    )


# ---------------------------------------------------------------------------
# Z-order clustering key (multi-dimensional data layout for scan pruning)
# ---------------------------------------------------------------------------
# Must cover the KEY DOMAIN, not a convenient width: bits b encodes keys
# < 2^b; keys above that alias onto the low bits and the interleave stops
# encoding locality (silently — results stay "correct", the layout just
# degrades to near-natural). 20 bits covers key domains to ~1M (TPC-H
# partkey reaches 200k at sf1, 2M at sf10 — size up with the data); the
# 2·bits-bit zval still fits comfortably in an int64 up to bits=31.
ZORDER_BITS = 20


def _z_interleave_sql(xcol: str, ycol: str, bits: int = ZORDER_BITS) -> str:
    """SQL expression interleaving the low `bits` bits of two ints:
    bit i of x lands at position 2i, bit i of y at 2i+1. Engine-portable
    (plain >> & << arithmetic), so the SAME string serves Spark and the
    DuckDB oracle."""
    terms = []
    for i in range(bits):
        terms.append(f"((({xcol} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ycol} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_Z_EXPR = _z_interleave_sql("l_partkey", "l_suppkey")


@query(
    "zorder_cluster",
    f"""
    SELECT l_partkey, l_suppkey, CAST({_Z_EXPR} AS BIGINT) AS zval
    FROM lineitem
    ORDER BY zval, l_partkey, l_suppkey
    LIMIT 100
    """,
)
def zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (l_partkey, l_suppkey) —
    the multi-dimensional layout trick behind Delta/Iceberg OPTIMIZE
    ZORDER: rows near each other in z-value are near in BOTH key
    dimensions, so sorting files by zval lets min/max row-group stats
    prune scans filtered on EITHER key (a plain sort prunes only its
    leading column). ZORDER_BITS must cover the key domain — see the
    constant's comment; keys >= 2^bits alias and quietly destroy
    locality. The write path is
    ``df.repartitionByRange(n, zval).sortWithinPartitions(zval)`` +
    parquet; this query is the key kernel plus the ordered head as a
    verifiable sample (TakeOrderedAndProject — no global sort). The bit
    interleave is pure integer arithmetic in whole-stage codegen, and
    the IDENTICAL generated SQL string runs on the oracle."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.select(
            "l_partkey",
            "l_suppkey",
            F.expr(_Z_EXPR).cast("bigint").alias("zval"),
        )
        .orderBy("zval", "l_partkey", "l_suppkey")
        .limit(100)
    )


@query(
    "order_count_distribution",
    """
    SELECT n_orders, count(*) AS n_customers
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
    GROUP BY n_orders
    """,
)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed 0, 1, 2, ... orders
    (excluding a priority class). The LEFT join keeps zero-order
    customers — count(o_orderkey) counts only MATCHED rows (count(*)
    would count the null-extended row: the classic Q13 trap). The join
    predicate on priority must live ON the join, not in a WHERE (a
    where-filter after a left join silently turns it inner). Two
    aggregates: the first keyed c_custkey — the same key the join
    shuffled on, so AQE adds no exchange — the second over a tiny
    (n_orders) domain."""
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@query(
    "join_shuffle_hash_hint",
    """
    SELECT l_orderkey, o_orderdate,
           round(sum(l_extendedprice), 4) AS order_revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 150000
    GROUP BY l_orderkey, o_orderdate
    """,
)
def join_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberate physical-strategy control: SHUFFLE_HASH hints the
    fact-fact join into a shuffled hash join — no per-partition SORT of
    either side (sort-merge's cost), just build the smaller side's hash
    table per partition. The right call when one side is much smaller
    after filtering but still too big to broadcast — exactly this shape:
    orders shrinks via the pushed o_totalprice filter while lineitem
    stays huge. The hint only picks the ALGORITHM; the shuffle (and AQE
    skew splitting) is unchanged, so the risk is bounded: a hash table
    that spills where a sort would have streamed. Plan-tested as
    ShuffledHashJoin."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_extendedprice"
    )
    o = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_totalprice") > 150000)
        .select("o_orderkey", "o_orderdate")
        .hint("shuffle_hash")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum("l_extendedprice"), 4).alias("order_revenue"))
    )


@query(
    "variant_ops",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT)  AS k_int,
           CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS VARCHAR) AS k_str,
           json_extract(props, '$.missing') IS NOT NULL AS has_missing
    FROM events
    WHERE props IS NOT NULL
    """,
)
def variant_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    parse_json once into an open-schema binary-encoded value, then
    variant_get paths with per-access target types — the modern
    replacement for from_json-with-declared-schema when the payload
    schema drifts (new keys don't break the parse, and access is
    lazy per path instead of materializing the full struct). The
    oracle expresses the same accesses with plain JSON functions —
    the CONTRACT (typed path extraction, null for absent paths) is
    engine-portable even though the encoding is Spark's own.
    variant_get stays JVM-side (no Python); shredding to parquet
    columns is the storage-side continuation at scale."""
    e = load_table(spark, "events", sf_dir).filter(F.col("props").isNotNull())
    v = F.parse_json(F.col("props"))
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_int"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.variant_get(v, "$.missing", "string").isNotNull().alias("has_missing"),
    )


@query(
    "union_schema_evolution",
    """
    WITH old_snap AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE o_orderstatus = 'F'
    ),
    new_snap AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      WHERE o_orderstatus <> 'F'
    ),
    unified AS (
      SELECT * FROM old_snap UNION ALL BY NAME SELECT * FROM new_snap
    )
    SELECT count(*)               AS n_rows,
           count(o_custkey)       AS n_with_custkey,
           count(o_orderpriority) AS n_with_priority,
           round(avg(o_totalprice), 4) AS avg_price
    FROM unified
    """,
)
def union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift union: two snapshots of the same feed with added /
    dropped columns combine by NAME with null fill
    (`unionByName(allowMissingColumns=True)` — Spark's mergeSchema
    semantics as an operator), the everyday reality of a long-lived
    ingest the reference's fixed-schema sink can't absorb. The profile
    aggregate (count(col) counts non-nulls) proves which columns came
    from which era. Pure map + one tiny aggregate; at scale the union
    is zero-cost (no shuffle — both legs stay partition-local)."""
    o = load_table(spark, "orders", sf_dir)
    old_snap = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new_snap = o.filter(F.col("o_orderstatus") != "F").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    u = old_snap.unionByName(new_snap, allowMissingColumns=True)
    return u.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("n_with_custkey"),
        F.count("o_orderpriority").alias("n_with_priority"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


@query(
    "join_bloom_prefilter",
    """
    SELECT o_orderpriority,
           count(*) AS n_items,
           round(avg(l_extendedprice), 4) AS avg_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join — Spark's third scale lever for
    fact-fact joins after broadcast and bucketing: when NEITHER side can
    broadcast, the optimizer builds a Bloom filter from the SELECTIVE
    side's join keys (here: urgent orders) and pushes a might_contain()
    probe into the big side's scan, so most lineitem rows drop BEFORE
    the shuffle instead of after the join — at 100 TB that is the
    difference between shuffling the whole fact table and shuffling the
    matching ~20%.

    The plan runs in a conf-isolated ``spark.newSession()`` (same
    SparkContext, private SQLConf — nothing leaks into other queries'
    sessions):
    - autoBroadcastJoinThreshold=-1 stands in for the at-scale regime
      where the orders side is too big to broadcast (locally it would
      broadcast and a broadcast join needs no Bloom filter);
    - applicationSideScanSizeThreshold=0 because local lineitem is ~1 MB
      while the production default (10 GB) gates injection to scans
      where the filter actually pays.
    Injection is plan-asserted in tests/test_plans.py (bloom_filter_agg
    on the creation side, might_contain in the application-side scan
    filter); the join HINT path is deliberately not used — Catalyst
    skips runtime-filter injection on hinted joins."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    o = load_table(s2, "orders", sf_dir).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(s2, "lineitem", sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
    )


def dpp_build(spark: SparkSession, sf_dir: str, out_dir: str | None = None) -> str:
    """Once-per-snapshot layout job for `join_dpp_prune`: the lineitem
    fact re-written PARTITIONED BY ship month (the ingest-time layout a
    date-partitioned warehouse always has) plus the derived calendar
    dimension (month -> quarter). One file per partition (repartition
    before the partitioned write — same small-files rule as lsh_build).
    Published through `sources.artifacts.publish`: a reader concurrent
    with a staleness-triggered rebuild resolves either the old layout or
    the new one, never a half-written lineitem_by_month."""
    import os

    li = load_table(spark, "lineitem", sf_dir).withColumn(
        "ship_month", F.month("l_shipdate")
    )
    cal = (
        li.select("ship_month")
        .distinct()
        # floor, not bare float->int cast: Spark truncates but DuckDB
        # rounds on that cast (the scalar.py trap) — floor is identical
        # on both engines, so the oracle can mirror this expression
        .withColumn(
            "quarter", (F.floor((F.col("ship_month") - 1) / 3) + 1).cast("int")
        )
    )

    def write(tmp: str) -> None:
        li.repartition(12, "ship_month").write.mode("overwrite").partitionBy(
            "ship_month"
        ).parquet(os.path.join(tmp, "lineitem_by_month"))
        cal.coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "calendar"))

    return publish(
        out_dir or artifact_dir("dpp_tables", sf_dir), sf_dir, ("lineitem",), write
    )


@query(
    "join_dpp_prune",
    """
    SELECT month(l_shipdate) AS ship_month,
           count(*) AS n_items,
           round(avg(l_extendedprice), 4) AS avg_price
    FROM lineitem
    WHERE CAST(floor((month(l_shipdate) - 1) / 3) + 1 AS INT) = 1
    GROUP BY month(l_shipdate)
    """,
)
def join_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the scale lever for star joins over a
    PARTITIONED fact: the dim-side filter (calendar quarter = 1) can't
    prune the fact statically (the predicate is on the dim), so Catalyst
    plants a dynamicpruning subquery that broadcasts the surviving dim
    keys and skips every non-matching fact PARTITION at scan time — at
    100 TB with daily partitions, a one-quarter query reads ~90 of
    ~3650 partition directories instead of all of them. The fact layout
    comes from `dpp_build` (lazy once per dataset, like the ANN
    indexes); the pruning subquery is plan-asserted in
    tests/test_plans.py. The oracle expresses the identical semantics
    directly against the unpartitioned table."""
    import os

    out_dir = artifact_dir("dpp_tables", sf_dir)
    if not current(out_dir, sf_dir, ("lineitem",)):
        dpp_build(spark, sf_dir, out_dir)
    fact = spark.read.parquet(os.path.join(out_dir, "lineitem_by_month"))
    dim = spark.read.parquet(os.path.join(out_dir, "calendar")).filter(
        F.col("quarter") == 1
    )
    return (
        fact.join(dim, "ship_month")
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
    )


@query(
    "rollup_agg",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*)                              AS n,
           {sum_exact_sql("o_totalprice", 100)}  AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: the hierarchical prefix subset of CUBE — (status,
    priority), (status), () — the report-subtotal shape (ref capability
    class: grouped aggregation, `cassandra_sink.scala:117-121`
    generalized). Same single Expand + hash-agg pass as `cube_agg` but
    the Expand factor is k+1 (not 2^k) rows per input, which is why
    ROLLUP is the scale-preferred form when the dimensions really are a
    hierarchy."""
    o = load_table(spark, "orders", sf_dir)
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(sum_exact_sql("o_totalprice", 100)).alias("revenue"),
    )


@query(
    "cdc_apply",
    """
    WITH log AS (
      SELECT user_id, ts, event_id, value,
             CASE event_type WHEN 'error' THEN 'D' ELSE 'U' END AS op
      FROM events),
    latest AS (
      SELECT user_id, ts, value, op,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*)     OVER (PARTITION BY user_id)            AS n_ops
      FROM log)
    SELECT user_id, ts AS last_ts,
           round(value, 4) AS last_value, n_ops
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply — materialize the current snapshot from an
    ordered change stream with DELETE tombstones (the batch twin of the
    reference's PK-upsert sink, `cassandra_sink.scala:30-34`, extended
    with delete semantics). `error` events are tombstones: a key whose
    LATEST change is a tombstone is absent from the snapshot; any later
    change resurrects it. ONE shuffle on the key; ties on ts break by
    event_id so replays are deterministic. At 100 TB this is the
    standard log-compaction shape: the window only ever keeps rank-1
    rows per key, and AQE coalesces the post-filter output."""
    e = load_table(spark, "events", sf_dir)
    log = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = log.select(
        "user_id",
        "ts",
        "value",
        "op",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_ops"),
    )
    return latest.filter((F.col("rn") == 1) & (F.col("op") != "D")).select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.round("value", 4).alias("last_value"),
        "n_ops",
    )


AQP_SAMPLE_PCT = 10   # deterministic 10% hash sample; must divide 100 so
                      # the count scale is exact INTEGER arithmetic on
                      # both engines (Python // below == DuckDB // in the
                      # oracle; a float scale would round differently at
                      # the BIGINT cast: Spark truncates, DuckDB rounds)
assert 100 % AQP_SAMPLE_PCT == 0, "sample pct must divide 100"
AQP_REL_BAND = 0.05   # 5% relative-error contract on the estimates


@query(
    "aqp_sampled_agg",
    f"""
    WITH base AS (
      SELECT l_returnflag, l_extendedprice,
             (('0x' || substr(md5(concat_ws('-', l_orderkey, l_linenumber)), 1, 8))::BIGINT
              % 100)::INT < {AQP_SAMPLE_PCT} AS in_sample
      FROM lineitem),
    agg AS (
      SELECT l_returnflag,
             count(*)                                         AS n_exact,
             CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END)
                  * {100 // AQP_SAMPLE_PCT} AS BIGINT)         AS n_est,
             round(sum(l_extendedprice), 2)                   AS sum_exact,
             round(sum(CASE WHEN in_sample THEN l_extendedprice ELSE 0 END)
                   * (100.0 / {AQP_SAMPLE_PCT}), 2)           AS sum_est
      FROM base GROUP BY 1)
    SELECT l_returnflag, n_exact, n_est, sum_exact, sum_est,
           abs(n_est - n_exact) <= {AQP_REL_BAND} * n_exact     AS n_within_band,
           abs(sum_est - sum_exact) <= {AQP_REL_BAND} * sum_exact AS sum_within_band
    FROM agg
    """,
)
def aqp_sampled_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing (the BlinkDB shape): answer an
    aggregate from a deterministic hash sample with inverse-probability
    scaling, next to the exact answer and a relative-error contract the
    oracle asserts. At 100 TB the point is the sample TABLE is what you
    maintain (1% stratified, kept hot); a 100x-cheaper scan answers
    dashboard-grade questions and the band columns say when it's safe.

    The sample is the engine-portable md5 bucket (train_val_split's
    trick), NOT rand(): both engines pick the IDENTICAL sample, so the
    estimates hash-match exactly AND carry the band contract — a
    re-run, a retry, or an AQE re-plan can never change the answer.
    One scan, one map-side-collapsed aggregate: exact and estimated
    columns are conditional sums in the SAME HashAggregate."""
    from .curation import hash_bucket

    li = load_table(spark, "lineitem", sf_dir)
    scale = 100 // AQP_SAMPLE_PCT
    in_sample = (
        hash_bucket(F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")))
        < AQP_SAMPLE_PCT
    )
    base = li.select("l_returnflag", "l_extendedprice", in_sample.alias("in_sample"))
    agg = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_exact"),
        (F.sum(F.when(F.col("in_sample"), 1).otherwise(0)) * scale)
        .cast("bigint")
        .alias("n_est"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_exact"),
        F.round(
            F.sum(F.when(F.col("in_sample"), F.col("l_extendedprice")).otherwise(0.0))
            * (100.0 / AQP_SAMPLE_PCT),
            2,
        ).alias("sum_est"),
    )
    return agg.select(
        "l_returnflag",
        "n_exact",
        "n_est",
        "sum_exact",
        "sum_est",
        (F.abs(F.col("n_est") - F.col("n_exact")) <= AQP_REL_BAND * F.col("n_exact"))
        .alias("n_within_band"),
        (
            F.abs(F.col("sum_est") - F.col("sum_exact"))
            <= AQP_REL_BAND * F.col("sum_exact")
        ).alias("sum_within_band"),
    )


@query(
    "table_diff",
    """
    WITH newt AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 3),
    oldt AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 37 = 0
                  THEN round(o_totalprice * 0.9, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 50 <> 0)
    SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS status
    FROM newt n FULL OUTER JOIN oldt o ON n.o_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR n.o_totalprice  IS DISTINCT FROM o.o_totalprice
       OR n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
    """,
)
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff two table versions by key into
    added / removed / changed rows — the audit op behind CDC validation,
    backfill verification, and comparison of two table snapshots (e.g.
    two Delta/Iceberg versions). The two versions here are derived
    deterministically from orders (keys dropped from each side, a price
    restatement on one) so the oracle sees identical inputs.

    Shape: ONE full-outer sort-merge join on the key, value columns
    compared with null-safe inequality (never a stringified row hash —
    cross-engine float formatting is not canonical), unchanged rows
    filtered before anything ships. At 100 TB both snapshots come from
    the same bucketed layout, so the join elides its shuffles entirely
    (see sources/bucketed.py); the output is only the churn, which is
    what a reconciliation report wants to be sized by."""
    o = load_table(spark, "orders", sf_dir)
    newt = o.filter(F.col("o_orderkey") % 97 != 3).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    oldt = o.filter(F.col("o_orderkey") % 50 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 37 == 0, F.round(F.col("o_totalprice") * 0.9, 2)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    n, old = newt.alias("n"), oldt.alias("o")
    j = n.join(old, F.col("n.o_orderkey") == F.col("o.o_orderkey"), "full_outer")
    status = (
        F.when(F.col("o.o_orderkey").isNull(), "added")
        .when(F.col("n.o_orderkey").isNull(), "removed")
        .otherwise("changed")
    )
    differs = (
        F.col("o.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | ~F.col("n.o_totalprice").eqNullSafe(F.col("o.o_totalprice"))
        | ~F.col("n.o_orderstatus").eqNullSafe(F.col("o.o_orderstatus"))
    )
    return j.filter(differs).select(
        F.coalesce(F.col("n.o_orderkey"), F.col("o.o_orderkey")).alias("o_orderkey"),
        status.alias("status"),
    )


BASKET_TOP_PAIRS = 20


@query(
    "market_basket_pairs",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    part_n AS (
      SELECT l_partkey, count(*) AS n_orders FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    top AS (
      SELECT part_a, part_b, n_ab FROM pairs
      ORDER BY n_ab DESC, part_a, part_b LIMIT {BASKET_TOP_PAIRS})
    SELECT t.part_a, t.part_b, t.n_ab,
           round(CAST(t.n_ab AS DOUBLE) / na.n_orders, 6) AS conf_a_to_b,
           round(CAST(t.n_ab AS DOUBLE) / nb.n_orders, 6) AS conf_b_to_a
    FROM top t
    JOIN part_n na ON na.l_partkey = t.part_a
    JOIN part_n nb ON nb.l_partkey = t.part_b
    """,
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part pairs bought in the
    same order, with both directional confidences (n_ab/n_a, n_ab/n_b)
    — the association-rule primitive behind also-bought recommenders
    and co-retrieval analysis.

    Shape: distinct (order, part) first (multi-line orders collapse),
    then the pair generation is an equi-join ON THE ORDER KEY — fan-out
    is Σ basket_size² over orders, never |parts|². The top-{BASKET_TOP_PAIRS}
    cut is TakeOrderedAndProject, and only the tiny winner set joins the
    per-part order counts (the winner set broadcasts onto BOTH count
    probes — part_n is scanned, never shuffled, for either join). The
    giant-basket in-row memory guard is implemented in
    _pairs_from_baskets (r11: two-level explode above BASKET_PAIR_CAP
    items); min-support pruning of rare parts BEFORE pairing still
    composes ahead of this plan without changing it."""
    li = load_table(spark, "lineitem", sf_dir)
    # ONE basket aggregation feeds both the pair counts and the per-part
    # order counts (optimization r10): the old part_n path re-keyed a
    # separate DISTINCT (l_orderkey, l_partkey) through two more
    # exchanges; exploding the checkpointed basket sets counts exactly
    # the same per-part order membership with one narrow shuffle.
    baskets = _order_baskets(
        li.select("l_orderkey", "l_partkey")
    ).localCheckpoint(eager=False)
    part_n = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    pairs = _pairs_from_baskets(baskets).select(
        F.col("pa").alias("part_a"), F.col("pb").alias("part_b"),
        F.col("n").alias("n_ab"),
    )
    top = pairs.orderBy(F.col("n_ab").desc(), "part_a", "part_b").limit(
        BASKET_TOP_PAIRS
    )
    na = part_n.select(
        F.col("l_partkey").alias("part_a"), F.col("n_orders").alias("na")
    )
    nb = part_n.select(
        F.col("l_partkey").alias("part_b"), F.col("n_orders").alias("nb")
    )
    enriched = na.join(F.broadcast(top), "part_a")
    return (
        nb.join(F.broadcast(enriched), "part_b")
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("na"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(F.col("n_ab").cast("double") / F.col("nb"), 6).alias(
                "conf_b_to_a"
            ),
        )
    )


# Data-quality rules AS DATA: (rule_id, kind, params). The operator
# compiles each rule row into a Catalyst predicate — the metadata-driven
# plan-construction pattern (a contracts file drives the checks, not
# hand-written SQL per rule).
DQ_RULES = [
    ("orders_key_not_null",    "not_null",   "o_orderkey"),
    ("orders_price_positive",  "min_value",  "o_totalprice:0"),
    ("orders_status_domain",   "in_set",     "o_orderstatus:O,F,P"),
    ("orders_date_bounds",     "date_range", "o_orderdate:1992-01-01,1999-01-01"),
]


def _dq_predicate(kind: str, param: str):
    """Compile one rule row to a Column predicate (True = PASS)."""
    if kind == "not_null":
        return F.col(param).isNotNull()
    if kind == "min_value":
        col, lo = param.split(":")
        return F.col(col) > float(lo)
    if kind == "in_set":
        col, vals = param.split(":")
        return F.col(col).isin(vals.split(","))
    if kind == "date_range":
        col, rng = param.split(":")
        lo, hi = rng.split(",")
        return (F.col(col) >= F.lit(lo).cast("timestamp_ntz")) & (
            F.col(col) < F.lit(hi).cast("timestamp_ntz")
        )
    raise ValueError(f"unknown rule kind {kind!r}")


def _dq_sql(kind: str, param: str) -> str:
    """DuckDB twin of _dq_predicate."""
    if kind == "not_null":
        return f"{param} IS NOT NULL"
    if kind == "min_value":
        col, lo = param.split(":")
        return f"{col} > {lo}"
    if kind == "in_set":
        col, vals = param.split(":")
        quoted = ", ".join(f"'{v}'" for v in vals.split(","))
        return f"{col} IN ({quoted})"
    if kind == "date_range":
        col, rng = param.split(":")
        lo, hi = rng.split(",")
        return f"{col} >= TIMESTAMP '{lo}' AND {col} < TIMESTAMP '{hi}'"
    raise ValueError(kind)


_DQ_UNION_SQL = "\nUNION ALL\n".join(
    f"""    SELECT '{rid}' AS rule_id,
           count(*) AS n_checked,
           CAST(sum(CASE WHEN {_dq_sql(kind, param)} THEN 0 ELSE 1 END) AS BIGINT)
             AS n_violations
    FROM orders"""
    for rid, kind, param in DQ_RULES
)


@query("dq_rule_check", _DQ_UNION_SQL)
def dq_rule_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-driven data-quality gate: a rule TABLE (id, kind,
    params) compiles into predicates evaluated in ONE scan — the
    contracts-as-data pattern (Deequ/GreatExpectations shape) where
    adding a check is a config row, not new code.

    Shape: every rule becomes a conditional-sum aggregate over the SAME
    pass (no per-rule scan — contrast the oracle's UNION ALL spelling,
    which DuckDB also collapses); the result unpivots to one row per
    rule. A 100 TB contract run is therefore exactly one table scan
    regardless of rule count, and rules compose with partition pruning
    when they carry partition predicates."""
    o = load_table(spark, "orders", sf_dir)
    aggs = []
    for rid, kind, param in DQ_RULES:
        pred = _dq_predicate(kind, param)
        aggs.append(F.count(F.lit(1)).alias(f"__checked_{rid}"))
        aggs.append(
            F.sum(F.when(pred, 0).otherwise(1)).cast("bigint").alias(f"__viol_{rid}")
        )
    wide = o.agg(*aggs)
    # unpivot the 1-row wide aggregate with stack(): a union of per-rule
    # SELECTs over `wide` re-plans the aggregate per branch (measured 8
    # parquet scans for 4 rules — no ReusedExchange); stack() keeps the
    # promised single scan regardless of rule count
    stack_args = ", ".join(
        f"'{rid}', __checked_{rid}, __viol_{rid}" for rid, _, _ in DQ_RULES
    )
    return wide.select(
        F.expr(
            f"stack({len(DQ_RULES)}, {stack_args})"
            " as (rule_id, n_checked, n_violations)"
        )
    )


@query(
    "fk_orphan_check",
    """
    SELECT 'lineitem.l_orderkey -> orders' AS fk,
           (SELECT count(*) FROM lineitem) AS n_child,
           (SELECT count(*) FROM lineitem l
            ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey) AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            ANTI JOIN customer c ON o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'customer.c_nationkey -> nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
            ANTI JOIN nation n ON c.c_nationkey = n.n_nationkey)
    """,
)
def fk_orphan_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for each declared
    foreign key (child rows whose parent is missing) — the conformance
    check a warehouse runs after every load, since distributed stores
    don't enforce FKs. Zero orphans expected on consistent data; the
    COLUMNS are the contract (any nonzero is a quarantine trigger).

    Shape: one anti join per FK edge, each with the PARENT side's key
    column broadcast (dimension keys are small even when the dimension
    is wide — only the join key ships); child tables scan once per
    declared edge, never shuffle. At 100 TB prefer running the edges
    off shared scans batched by child table; the per-edge plan here
    keeps each contract independently readable."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)

    def edge(name, child, ckey, parent, pkey):
        orphans = child.join(
            F.broadcast(parent.select(pkey).distinct()),
            child[ckey] == F.col(pkey),
            "left_anti",
        )
        return child.agg(
            F.lit(name).alias("fk"),
            F.count(F.lit(1)).alias("n_child"),
        ).crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))

    return (
        edge("lineitem.l_orderkey -> orders", li, "l_orderkey", o, "o_orderkey")
        .unionAll(edge("orders.o_custkey -> customer", o, "o_custkey", c, "c_custkey"))
        .unionAll(
            edge("customer.c_nationkey -> nation", c, "c_nationkey", n, "n_nationkey")
        )
    )


@query(
    "surrogate_key_assign",
    """
    SELECT doc_id,
           row_number() OVER (ORDER BY source, doc_id) AS sk
    FROM documents
    """,
)
def surrogate_key_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense surrogate keys in a global business order (source, doc_id)
    — the warehouse key-assignment op. The naive form
    (`row_number() OVER (ORDER BY ...)`, which the oracle runs) drags
    the whole table onto ONE partition; `monotonically_increasing_id`
    scales but is sparse and layout-dependent. This is the scalable
    DENSE form: the two-pass trick shared with `running_total` — range
    partition on the order key, per-partition row_number, then add each
    partition's broadcast row-count offset. Identical output to the
    single-partition window at any scale; cost is one range exchange
    plus a |partitions|-row driver collect."""
    d = load_table(spark, "documents", sf_dir)
    ranged, offset_col = prefix_scan(
        d.select("doc_id", "source"), ["source", "doc_id"],
        F.count(F.lit(1)), operator.add, 0,
    )
    w = Window.partitionBy("__pid").orderBy("source", "doc_id")
    return ranged.select(
        "doc_id",
        (F.row_number().over(w) + offset_col).cast("bigint").alias("sk"),
    )


# ---------------------------------------------------------------------------
# LATERAL correlated subquery (SQL-surface parity)
# ---------------------------------------------------------------------------
@query(
    "lateral_topn",
    """
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n,
    LATERAL (
      SELECT c_name, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 3
    ) t
    """,
)
def lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers per nation via a correlated LATERAL subquery —
    the SQL spelling users port from DuckDB/Postgres/Trino unchanged.
    Catalyst decorrelates the LATERAL LIMIT into the same
    window-rank-filter plan `window_rank` builds by hand (DomainJoin →
    rank ≤ 3), so accepting this surface costs nothing at scale: one
    shuffle on the correlation key, no per-outer-row subquery
    execution. Deterministic (acctbal DESC, name) tie-break keeps both
    engines' top-3 identical."""
    load_table(spark, "nation", sf_dir).createOrReplaceTempView("__lat_nation")
    load_table(spark, "customer", sf_dir).createOrReplaceTempView(
        "__lat_customer"
    )
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM __lat_nation n,
        LATERAL (
          SELECT c_name, c_acctbal FROM __lat_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 3
        ) t
        """
    )


# ---------------------------------------------------------------------------
# Link prediction on the customer-part co-purchase bipartite graph
# ---------------------------------------------------------------------------
AA_PART_MIN = 2    # a part bought by 1 customer creates no wedge
AA_PART_CAP = 20   # rare-part cap: hub items carry no signal and cost deg²
AA_TOPK = 100


@query(
    "link_prediction_adamic_adar",
    f"""
    WITH cp AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    pn AS (SELECT p, count(*) AS n FROM cp GROUP BY p),
    rare AS (SELECT p, n FROM pn WHERE n BETWEEN {AA_PART_MIN} AND {AA_PART_CAP}),
    w AS (SELECT cp.c, cp.p, rare.n FROM cp JOIN rare USING (p)),
    scored AS (
      SELECT a.c AS cust_a, b.c AS cust_b,
             count(*) AS n_common,
             round(sum(CAST(1.0 AS DOUBLE) / ln(a.n)), 4) AS adamic_adar
      FROM w a JOIN w b ON a.p = b.p AND a.c < b.c
      GROUP BY 1, 2
    )
    SELECT cust_a, cust_b, n_common, adamic_adar,
           row_number() OVER (ORDER BY adamic_adar DESC, cust_a, cust_b) AS rnk
    FROM scored
    QUALIFY rnk <= {AA_TOPK}
    """,
)
def link_prediction_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the customer-part co-purchase
    bipartite graph: customer pairs sharing RARE parts, scored
    Σ_part 1/ln(|buyers(part)|) — common neighbors weighted so that
    popular hub items count less. The "similar customers with no direct
    edge yet" ranking behind recommendation candidates and account-dup
    triage; graph-ML sibling of `market_basket_pairs` (which ranks
    item-item, this ranks entity-entity).

    Scale shape: wedge generation is ONE self-equi-join of the
    (customer, part) incidence list on the part key, and the part-degree
    cap [{AA_PART_MIN}, {AA_PART_CAP}] bounds it at Σ_rare n² — the same
    hot-key regime as the shingle inverted index (hub parts are pruned
    BEFORE the join; they add deg² cost and no signal). Degrees ride
    along on the incidence rows (a.n), so no extra join; the global
    top-{AA_TOPK} ranks the ROUNDED score with id tie-breaks.

    The unpartitioned rank window orders only the scored-pair lattice
    (rare-part wedges, not customers²); at crawl scale cut with
    TakeOrdered semantics per the sort_limit_topk pattern."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    pn = cp.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    rare = pn.filter(F.col("n").between(AA_PART_MIN, AA_PART_CAP))
    w = cp.join(rare, "p")
    # Wedge generation by per-part buyer sets instead of the self-join
    # (optimization r10, same rewrite as _copurchase_pair_counts): one
    # groupBy(p) with map-side partial collect_set replaces the
    # checkpoint + both join sides re-keyed by p — 2 exchanges fewer and
    # no SMJ. The buyer set per part is bounded by AA_PART_CAP by
    # construction, so the in-array pair expansion is a bounded k² — the
    # exact same fan-out the equi-join had. Pair multiset identical
    # (collect_set dedups like the DISTINCT cp; sorted array emits each
    # c_a < c_b wedge once per part); the Σ 1/ln(n) addend multiset is
    # identical too, so the 4dp-rounded score is unchanged under the
    # same partial-agg-order tolerance the query already relies on.
    wsets = w.groupBy("p").agg(
        F.array_sort(F.collect_set("c")).alias("cs"), F.first("n").alias("n")
    ).filter(F.size("cs") >= 2)
    wedge_arr = F.expr(
        "flatten(transform(cs, (x, i) -> "
        "transform(slice(cs, i + 2, size(cs) - i - 1), "
        "y -> struct(x AS ca, y AS cb))))"
    )
    scored = (
        wsets.select("n", F.explode(wedge_arr).alias("pr"))
        .groupBy(F.col("pr.ca").alias("cust_a"), F.col("pr.cb").alias("cust_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum(F.lit(1.0) / F.log(F.col("n"))), 4).alias("adamic_adar"),
        )
    )
    wr = Window.orderBy(F.col("adamic_adar").desc(), "cust_a", "cust_b")
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= AA_TOPK)
    )


# ---------------------------------------------------------------------------
# Exact-sum proration (largest-remainder allocation)
# ---------------------------------------------------------------------------
@query(
    "proration_largest_remainder",
    """
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p
      FROM lineitem),
    o AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS t_cents
      FROM orders),
    j AS (
      SELECT l_orderkey, l_linenumber, p, t_cents,
             sum(p) OVER (PARTITION BY l_orderkey) AS s
      FROM li JOIN o ON l_orderkey = o_orderkey),
    base AS (
      SELECT l_orderkey, l_linenumber, t_cents, s,
             (t_cents * p) // s AS floor_cents,
             (t_cents * p) % s  AS rem
      FROM j),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY rem DESC, l_linenumber) AS rk,
             t_cents - sum(floor_cents) OVER (PARTITION BY l_orderkey)
               AS leftover
      FROM base)
    SELECT l_orderkey, l_linenumber,
           CAST(floor_cents + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_cents
    FROM ranked
    """,
)
def proration_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allocate each order's total across its lineitems proportionally to
    extended price with an EXACT-SUM guarantee (largest-remainder /
    Hamilton rounding): floor the proportional share in integer cents,
    then hand the leftover cents to the largest fractional remainders
    (tie-broken by line number). ALL arithmetic is int64 (cents,
    integer div/mod) — no floating point anywhere, so the allocation is
    bit-identical across engines and the per-order invariant
    Σalloc_cents == round(o_totalprice·100) holds exactly (pinned in
    tests). This is the money-safe allocation every billing/cost
    pipeline needs where naive round(share) drifts by cents. Scale: two
    windows partitioned by order key — same shuffle, Catalyst plans one
    Exchange; order groups are small (≤7 lineitems), no skew."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("p"),
    )
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("t_cents"),
    )
    wk = Window.partitionBy("l_orderkey")
    j = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "s", F.sum("p").over(wk)
    )
    base = j.select(
        "l_orderkey",
        "l_linenumber",
        "t_cents",
        "s",
        F.expr("(t_cents * p) div s").alias("floor_cents"),
        ((F.col("t_cents") * F.col("p")) % F.col("s")).alias("rem"),
    )
    ranked = base.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("l_orderkey").orderBy(
                F.col("rem").desc(), "l_linenumber"
            )
        ),
    ).withColumn(
        "leftover", F.col("t_cents") - F.sum("floor_cents").over(wk)
    )
    return ranked.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("floor_cents")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_cents"),
    )


# ---------------------------------------------------------------------------
# Iterative graph analytics on the purchase graphs (HITS, weighted SSSP)
# ---------------------------------------------------------------------------
HITS_ITERS = 2
SSSP_HOPS = 3
SSSP_MIN_SUPPORT = 2   # co-purchase support floor keeps the graph sparse
SSSP_SEED_MOD = 199    # seed parts: partkey % 199 == 0

# Every per-iteration CTE is AS MATERIALIZED: DuckDB inlines CTEs by
# default, and each level here is referenced 2-3 times (a{i} by an{i} AND
# auth{i}; hh{i} by hn{i} AND h{i}), so inlining re-expands the whole
# prior subtree per reference — 3^(2*iters) copies of the incidence scan.
# Harmless at the graded SFs, but the 10x sf1eq sweep measured it
# spilling >66 GB of DuckDB temp before exhausting disk. MATERIALIZED
# pins each level to one evaluation — the oracle-side twin of the r4
# Spark fix for this same query's plan-subtree doubling (localCheckpoint
# per half-iteration).
_HITS_ITER_TMPL = """
    a{i} AS MATERIALIZED (
      SELECT p, sum(h) AS s
      FROM cp JOIN h{prev} USING (c) GROUP BY p),
    an{i} AS (SELECT max(s) AS m FROM a{i}),
    auth{i} AS MATERIALIZED (
      SELECT p, round(s / (SELECT m FROM an{i}), 9) AS a FROM a{i}),
    hh{i} AS MATERIALIZED (
      SELECT c, sum(a) AS s
      FROM cp JOIN auth{i} USING (p) GROUP BY c),
    hn{i} AS (SELECT max(s) AS m FROM hh{i}),
    h{i} AS MATERIALIZED (
      SELECT c, round(s / (SELECT m FROM hn{i}), 9) AS h FROM hh{i}),"""

_HITS_ORACLE = (
    """
    WITH cp AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    h0 AS MATERIALIZED (SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS h FROM cp),"""
    + "".join(
        _HITS_ITER_TMPL.format(i=i, prev=i - 1) for i in range(1, HITS_ITERS + 1)
    ).rstrip(",")
    + f"""
    SELECT 'hub' AS kind, c AS node_id, round(h, 6) AS score FROM h{HITS_ITERS}
    UNION ALL
    SELECT 'auth' AS kind, p AS node_id, round(a, 6) AS score
    FROM auth{HITS_ITERS}
    """
)


@query("graph_hits_bipartite", _HITS_ORACLE)
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities over the customer-part purchase
    bipartite graph: {HITS_ITERS} synchronous iterations of
    auth(p) = Σ hub(buyers), hub(c) = Σ auth(parts bought) — broad
    buyers become hubs, broadly-bought parts become authorities. The
    second message-passing template next to `dup_graph_pagerank`
    (PageRank walks a homogeneous graph; HITS alternates sides of a
    bipartite one, the shape recommendation bootstraps use).

    Scale shape: each half-iteration is ONE equi-join of the incidence
    list against the current score vector plus a map-side-combinable
    sum — linear in edges, never a self-join, and a hot part (millions
    of buyers) is absorbed by partial aggregation rather than skewing
    a pair join. The normalizer is max(), not an L2 norm: max of
    quantized scores is EXACT (order-free), so normalization adds no
    cross-engine noise, while Σ-accumulation noise (~1e-15) is crushed
    by the per-iteration 1e-9 quantization and the final round(6) —
    the ewma/pagerank FP-parity discipline. Incidence is
    localCheckpointed once; score state is one row per live node."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hub = cp.select("c").distinct().withColumn("h", F.lit(1.0))
    auth = None
    for _ in range(HITS_ITERS):
        # localCheckpoint per HALF-iteration (the iterative-CC idiom):
        # each raw score table is referenced TWICE — by its max-normalizer
        # agg and by the normalize/join — and without truncation the plan
        # subtree DOUBLES per half-iteration (2 iterations measured 134
        # shuffle Exchanges in the formatted plan via the plan-guard
        # exchange ledger; checkpointed: 3). The materialized state is one
        # row per live node, the O(1)-lineage bound iterative ops need.
        a_raw = (
            cp.join(hub, "c")
            .groupBy("p")
            .agg(F.sum("h").alias("s"))
            .localCheckpoint(eager=False)
        )
        # normalizer as a driver-collected LITERAL (optimization r11):
        # the crossJoin(broadcast(1-row max)) form needed a job per
        # half-iteration anyway (the broadcast build materializes the
        # checkpoint), but left a BroadcastExchange + BNLJ pair in every
        # half-iteration's lineage. first() is the same single job and
        # the same double (py4j round-trips binary64 exactly; round(s/m)
        # over identical doubles), with a plain Project on top.
        m_a = a_raw.agg(F.max("s")).first()[0]
        auth = a_raw.select(
            "p", F.round(F.col("s") / F.lit(m_a), 9).alias("a")
        )
        h_raw = (
            cp.join(auth, "p")
            .groupBy("c")
            .agg(F.sum("a").alias("s"))
            .localCheckpoint(eager=False)
        )
        m_h = h_raw.agg(F.max("s")).first()[0]
        hub = h_raw.select(
            "c", F.round(F.col("s") / F.lit(m_h), 9).alias("h")
        )
    hubs = hub.select(
        F.lit("hub").alias("kind"),
        F.col("c").alias("node_id"),
        F.round("h", 6).alias("score"),
    )
    auths = auth.select(
        F.lit("auth").alias("kind"),
        F.col("p").alias("node_id"),
        F.round("a", 6).alias("score"),
    )
    return hubs.unionAll(auths)


@query(
    "graph_sssp_weighted",
    f"""
    WITH RECURSIVE items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(count(*) AS BIGINT) AS n
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {SSSP_MIN_SUPPORT}),
    edges AS (
      SELECT pa AS s, pb AS d, round(1.0 / ln(1 + n), 6) AS w FROM pairs
      UNION ALL
      SELECT pb, pa, round(1.0 / ln(1 + n), 6) FROM pairs),
    walk AS (
      SELECT DISTINCT s AS node, CAST(0.0 AS DOUBLE) AS dist, 0 AS hops
      FROM edges WHERE s % {SSSP_SEED_MOD} = 0
      UNION ALL
      SELECT e.d, w.dist + e.w, w.hops + 1
      FROM walk w JOIN edges e ON e.s = w.node
      WHERE w.hops < {SSSP_HOPS})
    SELECT node, round(min(dist), 6) AS dist
    FROM walk GROUP BY node
    """,
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (Bellman-Ford, {SSSP_HOPS}
    relaxation rounds) over the part co-purchase graph: edge weight
    1/ln(1+support) makes strongly co-bought parts "close", and the
    distance from a seed set ranks substitution/affinity reach — the
    weighted upgrade of `dup_graph_bfs_depth`'s hop counting.

    Scale shape: per round ONE join of the frontier distance vector
    against the symmetric edge list then a min-aggregate — the
    relaxation after round k is exactly the min over ≤k-hop paths, so
    no per-path explosion (contrast the oracle's recursive CTE, which
    walks every path and min-aggregates; the relaxation form is the
    one that scales). The support floor ({SSSP_MIN_SUPPORT}+) prunes
    the noise edges BEFORE the pair join, the same df-cap discipline as
    the shingle index. FP parity: weights are quantized to 1e-6 at
    construction and each path sum associates hop-by-hop in BOTH
    engines ((w1+w2)+w3), so the min-reduced distances are
    bit-identical before the final (no-op) round."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    pairs = _copurchase_pair_counts(li).filter(F.col("n") >= SSSP_MIN_SUPPORT)
    w = F.round(F.lit(1.0) / F.log(1 + F.col("n")), 6)
    edges = (
        pairs.select(F.col("pa").alias("s"), F.col("pb").alias("d"), w.alias("w"))
        .unionAll(
            pairs.select(F.col("pb").alias("s"), F.col("pa").alias("d"), w.alias("w"))
        )
        .localCheckpoint(eager=False)
    )
    dist = (
        edges.filter(F.col("s") % SSSP_SEED_MOD == 0)
        .select(F.col("s").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0.0))
    )
    for _ in range(SSSP_HOPS):
        relaxed = (
            dist.join(edges, dist.node == edges.s)
            .select(F.col("d").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist.select("node", F.round("dist", 6).alias("dist"))


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------
RFM_QS = (0.2, 0.4, 0.6, 0.8)


@query(
    "rfm_segmentation",
    f"""
    WITH cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', max(o_orderdate),
                  (SELECT max(o_orderdate) FROM orders)) AS BIGINT)
               AS recency_days,
             CAST(count(*) AS BIGINT) AS n_orders,
             round(sum(o_totalprice), 4) AS monetary
      FROM orders GROUP BY 1),
    b AS (
      SELECT
        {', '.join(f"round(quantile_cont(recency_days, {q}), 4) AS r{i}" for i, q in enumerate(RFM_QS))},
        {', '.join(f"round(quantile_cont(n_orders, {q}), 4) AS f{i}" for i, q in enumerate(RFM_QS))},
        {', '.join(f"round(quantile_cont(monetary, {q}), 4) AS m{i}" for i, q in enumerate(RFM_QS))}
      FROM cust),
    scored AS (
      SELECT c.o_custkey, c.recency_days, c.n_orders, c.monetary,
             CAST(5 - ((c.recency_days > b.r0)::INT + (c.recency_days > b.r1)::INT
                 + (c.recency_days > b.r2)::INT + (c.recency_days > b.r3)::INT)
               AS INT) AS r_score,
             CAST(1 + (c.n_orders > b.f0)::INT + (c.n_orders > b.f1)::INT
                 + (c.n_orders > b.f2)::INT + (c.n_orders > b.f3)::INT
               AS INT) AS f_score,
             CAST(1 + (c.monetary > b.m0)::INT + (c.monetary > b.m1)::INT
                 + (c.monetary > b.m2)::INT + (c.monetary > b.m3)::INT
               AS INT) AS m_score
      FROM cust c CROSS JOIN b)
    SELECT o_custkey, recency_days, n_orders, monetary,
           r_score, f_score, m_score,
           r_score * 100 + f_score * 10 + m_score AS segment
    FROM scored
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the workhorse marketing rollup:
    per-customer Recency (days since last order, anchored at the
    corpus-max date so the query is reproducible), Frequency (order
    count) and Monetary (total spend), each scored 1-5 against the
    population quintile boundaries, composed into the 111-555 segment
    code. Recency scores INVERT (recent = 5).

    Scale shape: one customer-level hash aggregation, one 1-row exact-
    percentile aggregate over the customer table (12 scalars;
    approx_percentile swap documented on `exact_percentiles` for
    crawl scale), broadcast back for a map-side score assignment — no
    sort, no ntile: quintiles-by-boundary-comparison replaces the
    global ntile(5) window that would serialize on one task at 100 TB.
    Boundary parity: cuts are rounded to the 4dp grid BEFORE any
    comparison and metrics are exact ints / 4dp-rounded sums, so no
    customer can land on different sides of a cut across engines (the
    winsorize_clip discipline)."""
    o = load_table(spark, "orders", sf_dir)
    ref = o.agg(F.max("o_orderdate").alias("ref_date"))
    cust = (
        o.crossJoin(F.broadcast(ref))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.first("ref_date"), F.max("o_orderdate"))
            .cast("bigint")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("monetary"),
        )
    )
    b = cust.agg(
        *[
            F.round(F.expr(f"percentile(recency_days, {q})"), 4).alias(f"r{i}")
            for i, q in enumerate(RFM_QS)
        ],
        *[
            F.round(F.expr(f"percentile(n_orders, {q})"), 4).alias(f"f{i}")
            for i, q in enumerate(RFM_QS)
        ],
        *[
            F.round(F.expr(f"percentile(monetary, {q})"), 4).alias(f"m{i}")
            for i, q in enumerate(RFM_QS)
        ],
    )

    def _score(col: str, prefix: str) -> F.Column:
        s = F.lit(0)
        for i in range(len(RFM_QS)):
            s = s + F.when(F.col(col) > F.col(f"{prefix}{i}"), 1).otherwise(0)
        return s

    scored = cust.crossJoin(F.broadcast(b)).select(
        "o_custkey",
        "recency_days",
        "n_orders",
        "monetary",
        (5 - _score("recency_days", "r")).cast("int").alias("r_score"),
        (1 + _score("n_orders", "f")).cast("int").alias("f_score"),
        (1 + _score("monetary", "m")).cast("int").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"),
    )


# ---------------------------------------------------------------------------
# Graph structure statistics on the co-purchase graph
# ---------------------------------------------------------------------------
KCORE_K = 2
KCORE_ROUNDS = 4

def _copurchase_pair_counts(li: DataFrame) -> DataFrame:
    """(pa, pb, n): unordered distinct part pairs per order, counted
    across orders — the shared candidate stage of market_basket_pairs,
    graph_sssp_weighted and _copurchase_edges.

    collect_set-per-order + in-array pair expansion (optimization r10,
    guide §2.4): the previous DISTINCT + self-join-on-orderkey shape cost
    4 exchanges (distinct, both join sides re-keyed by orderkey, pair
    aggregate) plus a sort-merge join; this is 2 exchanges — one by
    order key with map-side partial collect_set, one by pair — and the
    pair multiset is identical: collect_set dedups exactly like the
    DISTINCT did, and the sorted array emits each pa < pb combination
    once per order. Per-basket work is O(k²) in either shape (the self
    join also fans out k² per order); the pair expansion is the
    two-level explode in _pairs_from_baskets (r11), whose in-flight
    values are O(k) — the in-row memory guard the r10 one-shot flatten
    only documented."""
    return _pairs_from_baskets(_order_baskets(li))


def _order_baskets(li: DataFrame) -> DataFrame:
    """(l_orderkey, ps): sorted distinct part set per order — one
    exchange with map-side partial collect_set."""
    return li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )


def _pairs_from_baskets(baskets: DataFrame) -> DataFrame:
    """(pa, pb, n) from per-order sorted part sets (see
    _copurchase_pair_counts).

    Giant-basket guard (optimization r11, guide §5/§2.5): anchor-position
    explode first, then a per-anchor suffix explode. Total element copies
    stay O(k²/2) per basket — identical to the r10 one-shot
    flatten(transform(...)) — but the largest single VALUE ever built is
    the O(k) basket array itself, never the k(k-1)/2-struct pair array
    the one-shot form materialized inside one row (a 10^4-item basket =
    ~5·10^7 structs ≈ GBs in one row buffer; r10 only documented this
    guard). Pair multiset is provably identical: anchor i pairs with
    exactly the elements after it, once each. Pinned by the mixed-size +
    10k-basket test in tests/test_operators.py."""
    return (
        baskets.filter(F.size("ps") >= 2)
        .select("ps", F.explode(F.expr("sequence(1, size(ps) - 1)")).alias("i"))
        .select(
            F.expr("ps[i-1]").alias("pa"),
            F.explode(F.expr("slice(ps, i + 1, size(ps) - i)")).alias("pb"),
        )
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_COPURCHASE_EDGES_SQL = f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {SSSP_MIN_SUPPORT}),
    edges AS (
      SELECT pa AS s, pb AS d FROM pairs
      UNION ALL SELECT pb, pa FROM pairs)"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s, d): symmetric support-filtered co-purchase edge list — the
    shared graph every structure statistic below runs on (same
    construction as graph_sssp_weighted, weights dropped).

    Both directions of each pair come from one explode of a two-struct
    array, so the pair aggregate is computed once; a unionAll of two
    projections would plan it twice."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    pairs = _copurchase_pair_counts(li).filter(F.col("n") >= SSSP_MIN_SUPPORT)
    both = F.array(
        F.struct(F.col("pa").alias("s"), F.col("pb").alias("d")),
        F.struct(F.col("pb").alias("s"), F.col("pa").alias("d")),
    )
    return pairs.select(F.explode(both).alias("e")).select("e.s", "e.d")


@query(
    "graph_assortativity",
    _COPURCHASE_EDGES_SQL + """,
    deg AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS k
            FROM edges GROUP BY 1),
    ek AS (
      SELECT ds.k AS ks, dd.k AS kd
      FROM edges e JOIN deg ds ON ds.node = e.s
                   JOIN deg dd ON dd.node = e.d),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS ne,
             CAST(sum(ks) AS BIGINT) AS sx,
             CAST(sum(kd) AS BIGINT) AS sy,
             CAST(sum(ks * ks) AS BIGINT) AS sxx,
             CAST(sum(kd * kd) AS BIGINT) AS syy,
             CAST(sum(ks * kd) AS BIGINT) AS sxy
      FROM ek)
    SELECT ne AS n_directed_edges,
           round((ne * sxy - sx * sy)
                 / (sqrt(CAST(ne * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(ne * syy - sy * sy AS DOUBLE))), 6)
             AS assortativity
    FROM m
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of (deg(u), deg(v)) over directed edge endpoints —
    positive means popular parts co-sell with popular parts (hub-hub
    coupling), negative means hub-and-spoke structure. One number that
    summarizes whether the dup/recommendation graph family's hot-key
    mitigations (caps, salting) will be needed at scale.

    Shape: degree table = one hash agg on the edge list; attaching
    degrees to both endpoints = two broadcast-able equi-joins (degree
    table is |nodes|, edges |E|); the correlation is a single moment
    aggregation of INTEGER products — exact int64 sums (headroom to
    deg~10^4 at |E|~10^9, then DECIMAL swap, documented), one float at
    the end. Symmetric edges make sx == sy; kept separate so the
    formula is the general directed one."""
    # read twice (degrees, then the endpoint joins): materialize once
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = edges.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("k")
    )
    ds = deg.select(F.col("node").alias("s"), F.col("k").alias("ks"))
    dd = deg.select(F.col("node").alias("d"), F.col("k").alias("kd"))
    ek = edges.join(ds, "s").join(dd, "d")
    m = ek.agg(
        F.count(F.lit(1)).alias("ne"),
        F.sum("ks").alias("sx"),
        F.sum("kd").alias("sy"),
        F.sum(F.col("ks") * F.col("ks")).alias("sxx"),
        F.sum(F.col("kd") * F.col("kd")).alias("syy"),
        F.sum(F.col("ks") * F.col("kd")).alias("sxy"),
    )
    num = F.col("ne") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt((F.col("ne") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")) * F.sqrt(
        (F.col("ne") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.select(
        F.col("ne").alias("n_directed_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


# AS MATERIALIZED for the same reason as _HITS_ITER_TMPL: e{prev} is
# referenced by BOTH d{i} and e{i}, keep{i} twice by e{i} — default CTE
# inlining doubles the peel subtree per round (2^rounds edge-build
# scans; the sf1eq disk-spill pathology).
_KCORE_ITER_TMPL = """
    d{i} AS (SELECT s AS node, count(*) AS k FROM e{prev} GROUP BY 1),
    keep{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE k >= {kk}),
    e{i} AS MATERIALIZED (
      SELECT e.s, e.d FROM e{prev} e
      JOIN keep{i} ks ON ks.node = e.s
      JOIN keep{i} kd ON kd.node = e.d),"""

_KCORE_ORACLE = (
    _COPURCHASE_EDGES_SQL
    + ",\n    e0 AS MATERIALIZED (SELECT s, d FROM edges),"
    + "".join(
        _KCORE_ITER_TMPL.format(i=i, prev=i - 1, kk=KCORE_K)
        for i in range(1, KCORE_ROUNDS + 1)
    ).rstrip(",")
    + f"""
    SELECT node, CAST(k AS BIGINT) AS degree_in_core
    FROM (SELECT s AS node, count(*) AS k FROM e{KCORE_ROUNDS} GROUP BY 1)
    WHERE k >= {KCORE_K}
    """
)


def _kcore_peel(msgs: DataFrame) -> DataFrame:
    """(node, degree_in_core) of the KCORE_K-core that KCORE_ROUNDS
    synchronous peel rounds leave of a symmetric message set (s, d).

    Each row is a message from a live source s to a destination d. One
    round is one shuffle by receiver: a destination that heard from
    >= KCORE_K live neighbours survives and answers every source that
    wrote to it; the others fall silent. A peeled node never returns —
    it had < KCORE_K live neighbours, and a subset of them cannot reach
    KCORE_K — so round i's senders are exactly the survivors of the
    edge-list peel after i rounds, and the final receiver count is the
    same degree_in_core. Memory: one row holds one node's live
    in-neighbours, O(max degree)."""
    for _ in range(KCORE_ROUNDS):
        msgs = (
            msgs.groupBy("d")
            .agg(F.collect_list("s").alias("ss"))
            .filter(F.size("ss") >= KCORE_K)
            .select(F.col("d").alias("s"), F.explode("ss").alias("d"))
        )
    final_deg = msgs.groupBy(F.col("d").alias("node")).agg(
        F.count(F.lit(1)).alias("degree_in_core")
    )
    return final_deg.filter(F.col("degree_in_core") >= KCORE_K).select(
        "node", F.col("degree_in_core").cast("bigint").alias("degree_in_core")
    )


@query("graph_kcore", _KCORE_ORACLE)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core of the co-purchase graph by synchronous peeling:
    {KCORE_ROUNDS} rounds of "drop every node with degree < {KCORE_K},
    drop incident edges, recount" — the dense-substructure extraction
    behind community seeds and spam-cluster triage (degree counts
    alone overstate cohesion; a node's core membership depends on its
    NEIGHBORS surviving too). K={KCORE_K} — the cycle core — keeps the
    statistic non-vacuous on the sparse high-sf co-purchase graphs
    (max degree 6 at sf0.1), where a triangle core is already empty.

    Shape: one lazy vertex-centric message-passing plan (Pregel,
    _kcore_peel) — one collect_list shuffle by receiving vertex per
    round, cost |E| per round, no join and no checkpoint. The round
    count is FIXED (bounded driver loop, like PageRank/BFS): peeling
    converges when a round removes nothing, checked against a Python
    fixpoint peel in tests at test scale; production picks rounds from
    the degeneracy-ordering depth. All-integer logic, no FP parity
    concerns."""
    return _kcore_peel(_copurchase_edges(spark, sf_dir))


# ------------------------------------------------- subquery_double_exists

DBLX_TOPK = 20


@query(
    "subquery_double_exists",
    f"""
    WITH r AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F' AND l.l_returnflag = 'R')
    SELECT s.s_suppkey AS suppkey, s.s_name AS supp_name,
           CAST(count(*) AS BIGINT) AS sole_fault_orders
    FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = r.l_orderkey
              AND l2.l_suppkey <> r.l_suppkey)
      AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = r.l_orderkey
              AND l3.l_suppkey <> r.l_suppkey
              AND l3.l_returnflag = 'R')
    GROUP BY 1, 2
    ORDER BY sole_fault_orders DESC, supp_name
    LIMIT {DBLX_TOPK}
    """,
)
def subquery_double_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape on the available columns: suppliers who were the
    SOLE supplier at fault — finalized multi-supplier orders where this
    supplier's lines came back returned ('R') and no co-supplier's did.
    Pairs a correlated EXISTS with a correlated NOT EXISTS against the
    same fact table — the hardest decorrelation pattern in the classic
    benchmark suite.

    Shape: both subqueries decorrelate to ONE-SHUFFLE joins on
    l_orderkey — the EXISTS to a LEFT SEMI with the supplier
    inequality as a residual (non-equi) condition, the NOT EXISTS to a
    LEFT ANTI with the same residual plus the returnflag filter pushed
    into the build side. No per-row re-scan of lineitem: at 100 TB all
    three legs shuffle-partition on orderkey and co-locate, and AQE
    picks broadcast for the anti build side if the 'R' fraction is
    small. The driving set pre-dedupes to DISTINCT (orderkey, suppkey)
    so multi-line faults count once; supplier names ride a broadcast
    dim join at the end, after aggregation has collapsed to |suppliers|
    rows. Top-k is TakeOrderedAndProject with name tie-break.

    Reference provenance: extends the reference's filter surface
    (cassandra_sink.scala:117-119) to correlated-subquery planning."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    r = (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, li.l_orderkey == F.col("o_orderkey"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    others = li.select(
        F.col("l_orderkey").alias("x_orderkey"),
        F.col("l_suppkey").alias("x_suppkey"),
    )
    others_r = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("y_orderkey"),
        F.col("l_suppkey").alias("y_suppkey"),
    )
    with_other = r.join(
        others,
        (F.col("l_orderkey") == F.col("x_orderkey"))
        & (F.col("l_suppkey") != F.col("x_suppkey")),
        "left_semi",
    )
    sole = with_other.join(
        others_r,
        (F.col("l_orderkey") == F.col("y_orderkey"))
        & (F.col("l_suppkey") != F.col("y_suppkey")),
        "left_anti",
    )
    s = load_table(spark, "supplier", sf_dir).select(
        F.col("s_suppkey").alias("suppkey"), F.col("s_name").alias("supp_name")
    )
    return (
        sole.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("sole_fault_orders"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("suppkey"))
        .select("suppkey", "supp_name", "sole_fault_orders")
        .orderBy(F.col("sole_fault_orders").desc(), "supp_name")
        .limit(DBLX_TOPK)
    )


# ------------------------------------------------- subquery_anti_scalar


@query(
    "subquery_anti_scalar",
    """
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0),
    horizon AS (
      SELECT max(o_orderdate) - INTERVAL 14 DAY AS cutoff FROM orders)
    SELECT c_nationkey AS nationkey,
           CAST(count(*) AS BIGINT)     AS numcust,
           round(sum(c_acctbal), 2)     AS totacctbal
    FROM customer CROSS JOIN avg_bal CROSS JOIN horizon
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = customer.c_custkey
                        AND o.o_orderdate >= cutoff)
    GROUP BY 1
    """,
)
def subquery_anti_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): per nation, the
    wealthy-but-dormant customers — balance above the positive-balance
    average (uncorrelated scalar subquery) with no order in the last 14
    days of the horizon (anti-join; Q22 proper uses "no order ever",
    which this data never satisfies — the recency cutoff keeps the
    exact plan shape AND a non-trivial result). Completes the
    classic-subquery set next to `subquery_exists` (Q4),
    `subquery_correlated_scalar` (Q17) and `subquery_double_exists`
    (Q21).

    Shape: the scalar average is a 1-row aggregate broadcast-crossed
    into the customer scan (never a per-row re-scan); the NOT EXISTS
    decorrelates to a LEFT ANTI shuffle join on custkey against an
    orders side PROJECTED to its join key before the exchange; the
    final rollup collapses to |nations| rows map-side. The balance
    filter runs BEFORE the anti join, so the join's probe side is
    already the small wealthy subset — filter-then-join, the order
    Catalyst picks and the one that matters at 100 TB."""
    c = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cutoff = orders.agg(
        (F.max("o_orderdate") - F.expr("INTERVAL 14 DAY")).alias("cutoff")
    )
    recent = orders.crossJoin(F.broadcast(cutoff)).filter(
        F.col("o_orderdate") >= F.col("cutoff")
    ).select("o_custkey")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    wealthy = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("ab")
    )
    dormant = wealthy.join(recent, wealthy.c_custkey == recent.o_custkey, "left_anti")
    return dormant.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


# -------------------------------------------------------- layout_rle_report

RLE_GROUP_CUSTS = 100  # custkeys per simulated row group in layout B


@query(
    "layout_rle_report",
    f"""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderpriority AS pri, o_orderstatus AS st,
             CAST(o_orderdate AS DATE) AS d, month(o_orderdate) AS mon
      FROM orders),
    a AS (
      SELECT pri, st, d,
             lag(pri) OVER w AS l_pri, lag(st) OVER w AS l_st,
             lag(d) OVER w AS l_d
      FROM base
      WINDOW w AS (PARTITION BY pri, mon ORDER BY d, o_orderkey)),
    b AS (
      SELECT pri, st, d,
             lag(pri) OVER w AS l_pri, lag(st) OVER w AS l_st,
             lag(d) OVER w AS l_d
      FROM base
      WINDOW w AS (PARTITION BY o_custkey // {RLE_GROUP_CUSTS}
                   ORDER BY o_custkey, o_orderkey)),
    runs AS (
      SELECT 'pri_date' AS layout, 'o_orderpriority' AS col,
             CAST(sum(CASE WHEN l_pri IS NULL OR pri <> l_pri THEN 1 ELSE 0 END) AS BIGINT) AS n_runs,
             CAST(count(*) AS BIGINT) AS n_rows FROM a
      UNION ALL
      SELECT 'pri_date', 'o_orderstatus',
             CAST(sum(CASE WHEN l_st IS NULL OR st <> l_st THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(*) AS BIGINT) FROM a
      UNION ALL
      SELECT 'pri_date', 'o_orderdate',
             CAST(sum(CASE WHEN l_d IS NULL OR d <> l_d THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(*) AS BIGINT) FROM a
      UNION ALL
      SELECT 'custkey', 'o_orderpriority',
             CAST(sum(CASE WHEN l_pri IS NULL OR pri <> l_pri THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(*) AS BIGINT) FROM b
      UNION ALL
      SELECT 'custkey', 'o_orderstatus',
             CAST(sum(CASE WHEN l_st IS NULL OR st <> l_st THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(*) AS BIGINT) FROM b
      UNION ALL
      SELECT 'custkey', 'o_orderdate',
             CAST(sum(CASE WHEN l_d IS NULL OR d <> l_d THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(*) AS BIGINT) FROM b)
    SELECT layout, col, n_runs,
           round(CAST(n_rows AS DOUBLE) / n_runs, 2) AS avg_run_len
    FROM runs
    """,
)
def layout_rle_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout advisor: RLE run counts per column under two
    candidate sort orders — (priority, date) clustering vs custkey
    clustering — the measurement behind choosing a table's sort key
    (the analytical companion to `zorder_cluster` and
    `compaction_plan`: parquet's RLE/dictionary pages compress as
    1/avg_run_len, so the layout with fewer runs IS the smaller,
    faster-scanning table for those predicates).

    Shape: runs are counted WITHIN simulated row groups ((priority,
    month) for layout A, {RLE_GROUP_CUSTS}-custkey blocks for B) —
    physically faithful, since real RLE never spans row groups — so
    every lag window is partition-parallel and bounded; a run starts
    where the value differs from its predecessor (or at a group head).
    One shuffle per layout; the 6-row report collapses map-side. All
    comparisons are on exact values (strings, dates) — no FP anywhere.

    Reference provenance: extends the reference's sink-side table
    concern (cassandra_sink.scala:30-56, a row store) with the
    columnar-layout economics Spark tables live by."""
    o = load_table(spark, "orders", sf_dir)
    base = o.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.month("o_orderdate").alias("mon"),
    )
    wa = Window.partitionBy("pri", "mon").orderBy("d", "o_orderkey")
    wb = Window.partitionBy(
        F.expr(f"o_custkey div {RLE_GROUP_CUSTS}")
    ).orderBy("o_custkey", "o_orderkey")

    def runs(df, w, layout):
        lagged = df.select(
            "pri",
            "st",
            "d",
            F.lag("pri").over(w).alias("l_pri"),
            F.lag("st").over(w).alias("l_st"),
            F.lag("d").over(w).alias("l_d"),
        )
        outs = []
        for col, cur, prev in (
            ("o_orderpriority", "pri", "l_pri"),
            ("o_orderstatus", "st", "l_st"),
            ("o_orderdate", "d", "l_d"),
        ):
            outs.append(
                lagged.agg(
                    F.sum(
                        F.when(
                            F.col(prev).isNull() | (F.col(cur) != F.col(prev)), 1
                        ).otherwise(0)
                    ).alias("n_runs"),
                    F.count(F.lit(1)).alias("n_rows"),
                ).select(
                    F.lit(layout).alias("layout"),
                    F.lit(col).alias("col"),
                    "n_runs",
                    F.round(F.col("n_rows").cast("double") / F.col("n_runs"), 2).alias(
                        "avg_run_len"
                    ),
                )
            )
        return outs

    parts = runs(base, wa, "pri_date") + runs(base, wb, "custkey")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ----------------------------------------------------- zonemap_prune_report

ZM_NAT_BLOCK = 500       # orderkeys per simulated row group (natural layout)
ZM_Z_BLOCK = 131072      # zval width per simulated row group (zorder layout)

_ZM_PREDS = (
    ("ship_1995q1", "min_ship <= DATE '1995-03-31' AND max_ship >= DATE '1995-01-01'"),
    ("orderkey_band", "min_ok <= 3999 AND max_ok >= 3000"),
    ("partkey_band", "min_pk <= 599 AND max_pk >= 500"),
)


@query(
    "zonemap_prune_report",
    f"""
    WITH base AS (
      SELECT l_orderkey, l_partkey, CAST(l_shipdate AS DATE) AS sd,
             l_orderkey // {ZM_NAT_BLOCK} AS blk_nat,
             year(l_shipdate) * 12 + month(l_shipdate) AS blk_date,
             ({_Z_EXPR}) // {ZM_Z_BLOCK} AS blk_z
      FROM lineitem),
    zm AS (
      SELECT 'natural' AS layout, blk_nat AS blk,
             min(sd) AS min_ship, max(sd) AS max_ship,
             min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
             min(l_partkey) AS min_pk, max(l_partkey) AS max_pk
      FROM base GROUP BY blk_nat
      UNION ALL
      SELECT 'date_month', blk_date, min(sd), max(sd),
             min(l_orderkey), max(l_orderkey), min(l_partkey), max(l_partkey)
      FROM base GROUP BY blk_date
      UNION ALL
      SELECT 'zorder', blk_z, min(sd), max(sd),
             min(l_orderkey), max(l_orderkey), min(l_partkey), max(l_partkey)
      FROM base GROUP BY blk_z)
    SELECT layout, predicate,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(CASE WHEN hits THEN 1 ELSE 0 END) AS BIGINT) AS n_scan,
           round(100.0 * sum(CASE WHEN hits THEN 1 ELSE 0 END)
                 / count(*), 2) AS scan_pct
    FROM (
      {" UNION ALL ".join(
          f"SELECT layout, blk, '{name}' AS predicate, ({cond}) AS hits FROM zm"
          for name, cond in _ZM_PREDS
      )})
    GROUP BY layout, predicate
    """,
)
def zonemap_prune_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping advisor: what fraction of simulated row groups
    survives min/max zone-map pruning for three representative
    predicates (shipdate quarter, orderkey band, partkey band) under
    three physical layouts — natural insert order ({ZM_NAT_BLOCK}
    orderkeys/block), month partitioning, and z-order blocks (the
    `zorder_cluster` kernel, {ZM_Z_BLOCK} zvals/block). This is the
    measurement behind every "should we sort/partition/OPTIMIZE
    ZORDER this table" decision: parquet/Iceberg/Delta skip a block
    iff its [min,max] interval misses the predicate range, so
    scan_pct IS the surviving I/O fraction for that (layout,
    predicate) pair — natural order prunes orderkey bands, month
    partitioning prunes dates, z-order prunes partkey bands too.

    Shape: one scan computes all three block keys; three bounded
    hash-aggregations collapse rows to zone-map entries (rows /
    block_width of them — at 100 TB still millions, but the per-block
    stats combine map-side and every later stage works on blocks,
    never rows); predicate evaluation is a 3x fan-out over blocks and
    a final tiny agg. Block widths are domain constants sized with
    the key domain (like ZORDER_BITS above); all comparisons exact
    ints/dates — no FP until the final percentage.

    Reference provenance: the scan-side economics the reference
    delegates to Cassandra's clustering keys (cassandra_sink.scala:
    30-56), re-expressed for columnar lake tables."""
    li = load_table(spark, "lineitem", sf_dir)
    base = li.select(
        "l_orderkey",
        "l_partkey",
        F.col("l_shipdate").cast("date").alias("sd"),
        F.expr(f"l_orderkey div {ZM_NAT_BLOCK}").alias("blk_nat"),
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("blk_date"),
        F.expr(f"({_Z_EXPR}) div {ZM_Z_BLOCK}").alias("blk_z"),
    )

    def zonemap(blk_col: str, layout: str) -> DataFrame:
        return base.groupBy(F.col(blk_col).alias("blk")).agg(
            F.min("sd").alias("min_ship"),
            F.max("sd").alias("max_ship"),
            F.min("l_orderkey").alias("min_ok"),
            F.max("l_orderkey").alias("max_ok"),
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
        ).select(F.lit(layout).alias("layout"), "*")

    zm = (
        zonemap("blk_nat", "natural")
        .unionByName(zonemap("blk_date", "date_month"))
        .unionByName(zonemap("blk_z", "zorder"))
    )
    fanned = None
    for name, cond in _ZM_PREDS:
        part = zm.select(
            "layout",
            "blk",
            F.lit(name).alias("predicate"),
            F.expr(cond).alias("hits"),
        )
        fanned = part if fanned is None else fanned.unionByName(part)
    return fanned.groupBy("layout", "predicate").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(F.col("hits"), 1).otherwise(0)).alias("n_scan"),
        F.round(
            100.0
            * F.sum(F.when(F.col("hits"), 1).otherwise(0))
            / F.count(F.lit(1)),
            2,
        ).alias("scan_pct"),
    )
