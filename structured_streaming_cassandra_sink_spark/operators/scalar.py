"""Scalar function batteries — string / math / date (ref #7 generalized).

Everything is a JVM built-in inside whole-stage codegen — the engine's
"UDFs are the slow path" policy made concrete: none of these needs Python.

Oracle-parity traps handled here (documented because they're easy to
regress):
- double->int CAST: Spark truncates, DuckDB rounds — never cross-cast
  floats to ints in oracle-checked queries; use floor/ceil/round explicitly.
- dayofweek: Spark is 1-7 (Sunday=1), DuckDB 0-6 (Sunday=0) — normalize.
- log/exp are not IEEE-correctly-rounded identically everywhere — round(4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exactagg import (
    avg_exact_sql,
    count_d_sql,
    covn_sql,
    fgrid_sql,
    hilo_sum_sql,
    qlong_sql,
    sum_d_sql,
    sum_exact_sql,
    varn_sql,
)
from ..plans.registry import query
from ..sources import load_table, spread


@query(
    "scalar_string_math",
    """
    SELECT p_partkey,
           upper(p_name)                        AS name_upper,
           length(p_name)                       AS name_len,
           split_part(p_type, ' ', 1)           AS type_head,
           concat(p_brand, ':', p_type)         AS brand_type,
           replace(p_name, ' ', '_')            AS name_snake,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           round(sqrt(p_size), 4)               AS size_sqrt,
           round(ln(p_retailprice), 4)          AS price_ln,
           CAST(ceil(p_retailprice) AS BIGINT)  AS price_ceil,
           CAST(floor(p_retailprice / 100) AS BIGINT) AS price_bucket
    FROM part
    """,
)
def scalar_string_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_head"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.round(F.sqrt("p_size"), 4).alias("size_sqrt"),
        F.round(F.log(F.col("p_retailprice")), 4).alias("price_ln"),
        F.ceil("p_retailprice").alias("price_ceil"),
        F.floor(F.col("p_retailprice") / 100).alias("price_bucket"),
    )


@query(
    "scalar_date_funcs",
    """
    SELECT o_orderkey,
           year(o_orderdate)                         AS order_year,
           month(o_orderdate)                        AS order_month,
           dayofweek(o_orderdate)                    AS order_dow,
           last_day(CAST(o_orderdate AS DATE))       AS month_end,
           CAST(o_orderdate AS DATE) + 30            AS due_date,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start
    FROM orders
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date battery. order_dow normalized to DuckDB numbering
    (Sunday=0): Spark dayofweek() - 1."""
    o = load_table(spark, "orders", sf_dir)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        (F.dayofweek("o_orderdate") - 1).alias("order_dow"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        # date_trunc returns TIMESTAMP in Spark but DATE in DuckDB at
        # day+ precision — cast both sides to DATE.
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
    )


@query(
    "approx_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           count(DISTINCT l_suppkey) AS exact_supps,
           true                      AS parts_in_band,
           true                      AS supps_in_band,
           count(*)                  AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the 100 TB substitute for
    count(DISTINCT) when exactness isn't required — no expand, single
    pass, fixed-size sketch per group.

    Tolerance-banded oracle (upgraded from rows-only): the sketch value
    itself is implementation-defined, so the query emits the EXACT
    distinct counts (cross-engine comparable) plus a band flag
    ``|approx - exact| <= 15% * exact`` computed Spark-side; the oracle
    asserts the flag is true, so an out-of-band sketch is a driver FAIL,
    not just a local test failure. The band is 3 sigma of HLL++'s
    default rsd (0.05) — a 5% band would be 1 sigma, i.e. a coin-flip
    FAIL on a perfectly in-contract sketch once cardinalities leave the
    near-exact sparse regime. The exact columns exist only to pin the
    band — production keeps the approx-only aggregate.

    Plan shape (round-4 fix): the HLL and the exact counts are SEPARATE
    aggregations joined on the 3-row group key, NOT one agg. Mixing
    approx_count_distinct with count(DISTINCT ..) in a single agg routes
    the sketch through Catalyst's distinct-Expand rewrite — 2×52 HLL
    words carried per (flag, partkey, suppkey, gid) group through the
    first shuffle, i.e. a sketch per DISTINCT KEY instead of per flag
    (~500 MB shuffled at sf0.1, unbounded at scale). Split, the HLL side
    is the production single linear pass with one fixed-size sketch per
    flag, and the Expand rewrite touches only the exact band-pinning
    side. Second scan of lineitem is two pruned columns — cheap."""
    li = load_table(spark, "lineitem", sf_dir)
    in_band = lambda approx, exact: (  # noqa: E731
        F.abs(approx - exact) <= 0.15 * exact
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("ap_parts"),
        F.approx_count_distinct("l_suppkey").alias("ap_supps"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct(F.col("l_partkey")).alias("exact_parts"),
        F.count_distinct(F.col("l_suppkey")).alias("exact_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return exact.join(F.broadcast(approx), "l_returnflag").select(
        "l_returnflag",
        "exact_parts",
        "exact_supps",
        in_band(F.col("ap_parts"), F.col("exact_parts")).alias("parts_in_band"),
        in_band(F.col("ap_supps"), F.col("exact_supps")).alias("supps_in_band"),
        "n_rows",
    )


@query(
    "approx_quantiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_exact,
           true                                          AS p50_in_band,
           true                                          AS p90_in_band
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (Greenwald-Khanna sketch): the 100 TB quantile
    path — fixed-size sketch per group, map-side partial merge, no
    per-group sort/materialization (exact percentile would shuffle every
    value to its group's reducer). Rank error <= n/accuracy.

    Tolerance-banded oracle (upgraded from rows-only): sketch output is
    implementation-defined, so the query emits the EXACT p50/p90 (both
    engines use type-7 interpolation — parity proven by
    exact_percentiles) plus a flag that the approx value lands inside
    the exact [q-0.01, q+0.01] rank band; the oracle asserts the flag,
    making sketch drift a driver FAIL. GK with accuracy 1000 guarantees
    rank error 1e-3 — a 10x margin inside the 0.01 band.

    Accuracy sizing (r7 — this was the registry's worst scaling curve):
    GK insert/merge cost grows with the sketch's compressed size, and
    accuracy 10_000 made the SKETCH the data-dominated term — measured
    min-of-2 at sf1eq: 2.18 s (acc 1e4) vs 0.19 s (acc 1e3), 12x, while
    sf0.1 hid it (0.13 vs 0.07 — overhead-dominated). At 100 TB the
    sketch IS the plan, so its constant matters more than the
    band-scaffolding exact side (0.95 s, sub-linear, test-only).

    All six exact rank points ride in ONE percentile(col, array(...))
    aggregate (a single sorted buffer per group) and both sketch points
    in ONE percentile_approx(col, array(...)) — six scalar percentile()
    calls each buffered every group's values separately and cost ~3.5x
    the wall time (measured 5.9 s -> 1.7 s at sf0.1)."""
    # spread() (optimization r10): the exact six-rank band scaffolding in
    # the same aggregate dominates per-row cost (sorted-buffer inserts),
    # and the single-row-group scan pinned it to one task.
    li = spread(
        load_table(spark, "lineitem", sf_dir).select(
            "l_returnflag", "l_extendedprice"
        )
    )
    ranks = (0.49, 0.5, 0.51, 0.89, 0.9, 0.91)
    pcts = F.expr(
        f"percentile(l_extendedprice, array({', '.join(map(str, ranks))}))"
    )
    appx = F.percentile_approx(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9)), F.lit(1_000)
    )
    agged = li.groupBy("l_returnflag").agg(pcts.alias("ps"), appx.alias("aps"))
    p = lambda i: F.col("ps").getItem(i)  # noqa: E731
    ap = lambda i: F.col("aps").getItem(i)  # noqa: E731
    return agged.select(
        "l_returnflag",
        F.round(p(1), 4).alias("p50_exact"),
        F.round(p(4), 4).alias("p90_exact"),
        ap(0).between(p(0), p(2)).alias("p50_in_band"),
        ap(1).between(p(3), p(5)).alias("p90_in_band"),
    )


@query(
    "exact_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT linear-interpolated percentiles per group (both engines use
    the same type-7 interpolation). Exact percentile sorts each group's
    values — use approx_quantiles at 100 TB unless the group count is
    huge and groups small; kept for parity testing of the approx
    variant."""
    # spread() the projected input (optimization r10): exact percentile
    # buffers every value per group and the single-row-group scan ran the
    # whole update phase on one task (measured ~2x on the winsorize cuts).
    li = spread(
        load_table(spark, "lineitem", sf_dir).select(
            "l_returnflag", "l_extendedprice"
        )
    )
    qs = (0.25, 0.50, 0.75, 0.99)
    # ONE percentile(col, array(...)) aggregate: a single sorted buffer
    # per group serves all four quantiles — four scalar percentile()
    # calls would each buffer every group's values separately.
    pcts = F.expr(f"percentile(l_extendedprice, array({', '.join(map(str, qs))}))")
    agged = li.groupBy("l_returnflag").agg(pcts.alias("pcts"))
    return agged.select(
        "l_returnflag",
        *[
            F.round(F.col("pcts").getItem(i), 4).alias(f"p{int(q * 100)}")
            for i, q in enumerate(qs)
        ],
    )


# conditional_agg's money aggregates: one text each, run verbatim by
# DuckDB and through F.expr by Spark.
_CA_BIG_REV = sum_exact_sql(
    "CASE WHEN o_totalprice > 200000 THEN o_totalprice ELSE 0 END", 100
)
_CA_AVG_OPEN = avg_exact_sql(
    "CASE WHEN o_orderstatus = 'O' THEN o_totalprice END", 100
)


@query(
    "conditional_agg",
    f"""
    SELECT o_orderpriority,
           count(*)                                     AS n_orders,
           count(*) FILTER (WHERE o_orderstatus = 'F')  AS n_finished,
           {_CA_BIG_REV}                                AS big_rev,
           {_CA_AVG_OPEN}                               AS avg_open_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation battery: count_if / filtered sums /
    null-skipping conditional avg — one pass, all map-side partial. The
    money aggregates use the exact quantized-int form
    (functions/exactagg.py) after the 10x-sf0.1 sweep caught the float
    forms flipping their 4th decimal; the CASE runs INSIDE the
    quantizer so null-skipping semantics are unchanged."""
    o = load_table(spark, "orders", sf_dir)
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.expr(_CA_BIG_REV).alias("big_rev"),
        F.expr(_CA_AVG_OPEN).alias("avg_open_price"),
    )


# groupwise_zscore exact contract (r7 kernel purge): the pandas side
# cannot share SQL text, so the contract is op-for-op IEEE mirroring —
# numpy float64 ops ARE IEEE doubles, so each step below is spelled to
# match the oracle expression exactly, in the same order:
#   vq   = floor(value*100 + 0.5) as int64      (lossless: 2-dec data)
#   s1   = Σvq, s2 = Σvq², n                    (exact int64, order-free)
#   varn = n·s2 − s1·s1  over DOUBLES of those integers (one correctly-
#          rounded int→double conversion each — deterministic)
#   z    = (vq − s1/n) / sqrt(varn / (n·(n−1)))  then the 4dp floor grid
# Degenerate guard is integer-exact on BOTH sides: n < 2 or
# min(vq) = max(vq) → z = 0.0 (never the engines' /0 NULL-vs-inf split).
_GZ_VQ = qlong_sql("value", 100)
_GZ_Z = (
    "CASE WHEN nn < 2 OR mnq = mxq OR "
    + varn_sql("sn", "s2", "s1")
    + " <= 0.0 THEN 0.0 ELSE "
    + fgrid_sql(
        "(CAST(vq AS DOUBLE) - s1 / sn)"
        " / sqrt(" + varn_sql("sn", "s2", "s1") + " / (sn * (sn - 1.0)))",
        4,
    )
    + " END"
)


@query(
    "groupwise_zscore_pandas",
    f"""
    WITH q AS (
      SELECT event_id, event_type, {_GZ_VQ} AS vq FROM events),
    g AS (
      SELECT event_type, count(vq) AS nn, {count_d_sql('vq')} AS sn,
             {sum_d_sql('vq')} AS s1, {sum_d_sql('vq * vq')} AS s2,
             min(vq) AS mnq, max(vq) AS mxq
      FROM q GROUP BY event_type)
    SELECT q.event_id, q.event_type, {_GZ_Z} AS z
    FROM q JOIN g USING (event_type)
    """,
)
def groupwise_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas (grouped-map) surface: per-event-type z-score of
    `value`, each group normalized as one vectorized pandas frame. The
    third pandas API next to mapInPandas (multimodal) and
    applyInPandasWithState (streaming state): grouped-map reshuffles by
    the key and hands each COMPLETE group to python — use only when the
    group math genuinely needs a dataframe library (here it doesn't;
    the window-function form is the production path, this pins the
    plumbing).

    Oracle parity (r7 purge — pandas mean()/std() kernels retired like
    the SQL ones): both sides run the exact-moment recipe in the module
    comment above; numpy float64 arithmetic is IEEE, so mirroring the
    oracle's double expression op-for-op over the SAME exact integers
    is bit-identical — pandas pairwise summation never runs. The
    integer moments are exact for any group: vq² ≤ 3.2e9/row, Σ ≤
    3.2e15 int64 at sf1eq (and numpy int64 sums are exact, no dtype
    promotion surprises)."""
    import numpy as np
    import pandas as pd

    events = load_table(spark, "events", sf_dir)

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        # exact integer moments — op-for-op mirror of the oracle text
        vq = np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).astype(np.int64)
        n = len(vq)
        s1 = int(vq.sum())
        s2 = int((vq * vq).sum())
        sn, d1, d2 = float(n), float(s1), float(s2)
        varn = sn * d2 - d1 * d1
        if n < 2 or int(vq.min()) == int(vq.max()) or varn <= 0.0:
            z = np.zeros(n, dtype=np.float64)
        else:
            sd = math.sqrt(varn / (sn * (sn - 1.0)))
            z = (vq.astype(np.float64) - d1 / sn) / sd
            z = np.floor(z * 1e4 + 0.5) / 1e4
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "event_type": pdf["event_type"], "z": z}
        )

    return events.select("event_id", "event_type", "value").groupBy(
        "event_type"
    ).applyInPandas(zscore, "event_id long, event_type string, z double")


MAD_K = 1.4826  # consistency constant: MAD * 1.4826 ~ sigma for normal data
MAD_THRESH = 3.0


@query(
    "outlier_mad",
    f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             abs(e.value - m.med) AS absdev
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(absdev, 0.5) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_id, d.event_type,
           round(d.absdev / ({MAD_K} * m.mad), 4) AS robust_z,
           round(d.absdev, 6) > round({MAD_THRESH} * {MAD_K} * m.mad, 6)
             AS is_outlier
    FROM dev d JOIN mad m USING (event_type)
    """,
)
def outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per group: median/MAD (median absolute
    deviation) instead of mean/stddev, so the detector's own threshold
    is not dragged by the outliers it hunts — the data-quality gate for
    a metrics/telemetry ingest. Flags rows with robust z > {MAD_THRESH}.

    Scale shape: two tiny group-level aggregates (median, then MAD —
    each a per-group exact percentile; swap in percentile_approx at
    100 TB exactly like approx_quantiles) broadcast back against one
    fact scan each. The flag compares 6-dp-rounded values on both
    engines so the boundary is portable."""
    e = load_table(spark, "events", sf_dir)
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        F.abs(F.col("value") - F.col("med")).alias("absdev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(absdev, 0.5)").alias("mad")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_id",
        "event_type",
        F.round(F.col("absdev") / (MAD_K * F.col("mad")), 4).alias("robust_z"),
        (
            F.round(F.col("absdev"), 6)
            > F.round(MAD_THRESH * MAD_K * F.col("mad"), 6)
        ).alias("is_outlier"),
    )


# Cross-engine-exact bivariate moments (r7 kernel purge — the
# heaps_law_fit postmortem applied to the whole stat surface): the
# engines' corr/covar_samp/stddev_samp kernels accumulate double moments
# in engine/build-specific order, so their trailing ulps can flip a
# round() boundary in the driver environment even when every local sweep
# is green (the only driver FAIL ever recorded, r5). Contract: quantize
# on a lossless grid (quantity is integral, price/discount are exact
# cents — q=100 recovers the rational data exactly), sum the moments as
# order-free exact int64 (second moments via the hi/lo carrier,
# functions/exactagg.py), and derive every statistic in ONE shared
# double expression both engines run over identical integers.
#
# Budgets (sf1eq, n<=2.4e6/group; 1000x headroom noted): xq<=5e3,
# yq<=1.05e7, dq<=10; per-row products <= yq^2 ~ 1.1e14 < 2^63; linear
# sums <= 6.3e13 < 2^63; hi/lo carries products exactly to |sum|<2^93.
_CC_XQ = qlong_sql("l_quantity", 100)
_CC_YQ = qlong_sql("l_extendedprice", 100)
_CC_DQ = qlong_sql("l_discount", 100)
_CC_G = {
    "sn": count_d_sql("xq"),
    "sx": sum_d_sql("xq"),
    "sy": sum_d_sql("yq"),
    "sd": sum_d_sql("dq"),
    "sxx": hilo_sum_sql("xq * xq"),
    "syy": hilo_sum_sql("yq * yq"),
    "sxy": hilo_sum_sql("xq * yq"),
    "sxd": hilo_sum_sql("xq * dq"),
}
_CC_VARX = varn_sql("sn", "sxx", "sx")
_CC_VARY = varn_sql("sn", "syy", "sy")
_CC_COVXY = covn_sql("sn", "sxy", "sx", "sy")
_CC_COVXD = covn_sql("sn", "sxd", "sx", "sd")
# scale notes: corr is grid-invariant (qx*qy cancels); covar divides the
# 1e4 = qx*qd grid product back out; sd/avg divide the 1e2 price grid.
_CC_CORR = (
    f"CASE WHEN sn > 1.0 AND {_CC_VARX} > 0.0 AND {_CC_VARY} > 0.0 THEN "
    + fgrid_sql(f"{_CC_COVXY} / sqrt({_CC_VARX} * {_CC_VARY})", 6)
    + " END"
)
_CC_COVAR = (
    "CASE WHEN sn > 1.0 THEN "
    + fgrid_sql(f"{_CC_COVXD} / (sn * (sn - 1.0)) / 1e4", 6)
    + " END"
)
_CC_SD = (
    f"CASE WHEN sn <= 1.0 THEN NULL WHEN {_CC_VARY} <= 0.0 THEN 0.0 ELSE "
    + fgrid_sql(f"sqrt({_CC_VARY} / (sn * (sn - 1.0))) / 1e2", 4)
    + " END"
)
_CC_AVG = fgrid_sql("sy / (sn * 1e2)", 4)


@query(
    "column_corr",
    f"""
    WITH q AS (
      SELECT l_returnflag, {_CC_XQ} AS xq, {_CC_YQ} AS yq, {_CC_DQ} AS dq
      FROM lineitem),
    g AS (
      SELECT l_returnflag,
             {_CC_G['sn']} AS sn, {_CC_G['sx']} AS sx, {_CC_G['sy']} AS sy,
             {_CC_G['sd']} AS sd, {_CC_G['sxx']} AS sxx,
             {_CC_G['syy']} AS syy, {_CC_G['sxy']} AS sxy,
             {_CC_G['sxd']} AS sxd
      FROM q GROUP BY l_returnflag)
    SELECT l_returnflag,
           {_CC_CORR}  AS corr_qty_price,
           {_CC_COVAR} AS covar_qty_disc,
           {_CC_SD}    AS sd_price,
           {_CC_AVG}   AS avg_price
    FROM g
    """,
)
def column_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group — Pearson correlation, sample
    covariance, sample stddev (the feature-diagnostics pass a curation
    pipeline runs before training). Plan shape is unchanged from the
    kernel form: ONE hash aggregate whose int64 moment sums combine
    map-side, so the shuffle moves 3 tiny (flag, 9-moment) rows — the
    ideal 100 TB aggregation. Correctness now rides the exact-moment
    contract (module constants above; same text in the oracle): the
    q=100 grid is LOSSLESS on this data (integral quantities, cent
    prices/discounts), the moments are order-free exact integers, and
    corr/covar/sd/avg are shared double expressions over them —
    bit-identical across engines by construction, no corr/covar/stddev
    kernel anywhere (r5 heaps FAIL class retired). Degenerate groups
    (n<=1, zero variance) take integer-exact CASE guards instead of
    engine-specific NULL-vs-inf division behavior (ADVICE r6)."""
    li = load_table(spark, "lineitem", sf_dir)
    q = li.select(
        "l_returnflag",
        F.expr(_CC_XQ).alias("xq"),
        F.expr(_CC_YQ).alias("yq"),
        F.expr(_CC_DQ).alias("dq"),
    )
    g = q.groupBy("l_returnflag").agg(
        *[F.expr(sql).alias(name) for name, sql in _CC_G.items()]
    )
    return g.select(
        "l_returnflag",
        F.expr(_CC_CORR).alias("corr_qty_price"),
        F.expr(_CC_COVAR).alias("covar_qty_disc"),
        F.expr(_CC_SD).alias("sd_price"),
        F.expr(_CC_AVG).alias("avg_price"),
    )


@query(
    "array_ops",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         x -> x <> '') AS tokens
      FROM documents)
    SELECT doc_id,
           CAST(len(tokens) AS INTEGER)                 AS n_tokens,
           CAST(len(list_distinct(tokens)) AS INTEGER)  AS n_distinct,
           array_to_string(
             list_slice(list_sort(list_distinct(tokens)), 1, 3), ',') AS first3,
           list_contains(tokens, 'the')                 AS has_the
    FROM toks
    """,
)
def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface (split / filter / distinct / sort / slice /
    contains) — the collection API a document pipeline leans on
    constantly. Everything is a Catalyst expression inside one
    whole-stage-codegen map over the scan: zero shuffles, zero Python.
    The DuckDB list_* twins pin cross-engine semantics (1-based
    slicing, ascending sort, empty-string filtering) — the subtle
    divergences (size() INT vs len() BIGINT) are CAST-aligned per the
    oracle type contract. ``first3`` is emitted comma-joined (tokens
    are [a-z]+ only, so ',' never collides) because the driver's
    pandas canonicalizer cannot hash list cells."""
    d = load_table(spark, "documents", sf_dir)
    tokens = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != ""
    )
    toks = d.select("doc_id", tokens.alias("tokens"))
    return toks.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).alias("n_distinct"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct("tokens")), 1, 3), ","
        ).alias("first3"),
        F.array_contains("tokens", "the").alias("has_the"),
    )


@query(
    "string_agg_ordered",
    """
    WITH d AS (SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders)
    SELECT o_orderpriority,
           string_agg(o_orderstatus, '|' ORDER BY o_orderstatus) AS statuses,
           count(*) AS n_statuses
    FROM d GROUP BY o_orderpriority
    """,
)
def string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG, SQL:2016) — the report-style
    concat every BI layer asks for. Determinism is the whole point:
    listagg's concat order is partition-arrival order, so the input is
    reduced to DISTINCT pairs first and Spark's listagg(...).withinGroup /
    DuckDB's string_agg(... ORDER BY) both sort the group's values —
    identical strings regardless of parallelism. Two tiny-key shuffles
    (distinct, then agg); the distinct shrinks each group to |statuses|
    rows so the sort inside each group is O(few)."""
    o = load_table(spark, "orders", sf_dir)
    d = o.select("o_orderpriority", "o_orderstatus").distinct()
    return d.groupBy("o_orderpriority").agg(
        F.expr(
            "listagg(o_orderstatus, '|') WITHIN GROUP (ORDER BY o_orderstatus)"
        ).alias("statuses"),
        F.count(F.lit(1)).alias("n_statuses"),
    )


# regression_agg exact-moment contract (r7 kernel purge): x = quantity,
# y = extendedprice, both on the lossless q=100 grid (same budgets as
# column_corr above — this is literally the r5 heaps FAIL kernel class,
# regr_*, retired). slope and r2 are grid-invariant because qx = qy;
# the intercept divides the y grid back out.
_RA_VARX = varn_sql("sn", "sxx", "sx")
_RA_VARY = varn_sql("sn", "syy", "sy")
_RA_COV = covn_sql("sn", "sxy", "sx", "sy")
_RA_SLOPE = (
    f"CASE WHEN {_RA_VARX} > 0.0 THEN "
    + fgrid_sql(f"{_RA_COV} / {_RA_VARX}", 6)
    + " END"
)
_RA_INTERCEPT = (
    f"CASE WHEN {_RA_VARX} > 0.0 THEN "
    + fgrid_sql(f"(sy - {_RA_COV} / {_RA_VARX} * sx) / sn / 1e2", 4)
    + " END"
)
_RA_R2 = (
    f"CASE WHEN {_RA_VARX} > 0.0 AND {_RA_VARY} > 0.0 THEN "
    + fgrid_sql(f"{_RA_COV} * {_RA_COV} / ({_RA_VARX} * {_RA_VARY})", 6)
    + " END"
)


@query(
    "regression_agg",
    f"""
    WITH q AS (
      SELECT l_returnflag, {_CC_XQ} AS xq, {_CC_YQ} AS yq
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
    g AS (
      SELECT l_returnflag,
             {_CC_G['sn']} AS sn, {_CC_G['sx']} AS sx, {_CC_G['sy']} AS sy,
             {_CC_G['sxx']} AS sxx, {_CC_G['syy']} AS syy,
             {_CC_G['sxy']} AS sxy
      FROM q GROUP BY l_returnflag)
    SELECT l_returnflag,
           {_RA_SLOPE}     AS slope,
           {_RA_INTERCEPT} AS intercept,
           {_RA_R2}        AS r2,
           CAST(sn AS BIGINT) AS n_pairs
    FROM g
    """,
)
def regression_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass OLS per group (the SQL:2003 regr_slope/intercept/r2/
    count surface): price-per-quantity fit per return flag — the trend
    feature that replaces a collect-and-sklearn roundtrip. Plan shape
    unchanged: single scan, ONE hash aggregate of int64 moment sums
    merged map-side, shuffle moves 3 tiny rows.

    Correctness contract (r7): this is the exact kernel family
    (regr_*) whose engine-specific ulps caused the r5 heaps_law_fit
    driver FAIL — now zero regr kernels: lossless q=100 quantization,
    order-free exact int64/hi-lo moments, slope/intercept/r2 as shared
    double expressions over identical integers (bit-identical by
    construction). regr_count semantics (pairs where BOTH sides
    non-null) are the explicit WHERE on both engines; degenerate
    variance takes a shared CASE guard, not engine divide-by-zero
    behavior."""
    li = load_table(spark, "lineitem", sf_dir)
    q = li.filter(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    ).select(
        "l_returnflag",
        F.expr(_CC_XQ).alias("xq"),
        F.expr(_CC_YQ).alias("yq"),
    )
    g = q.groupBy("l_returnflag").agg(
        *[
            F.expr(_CC_G[name]).alias(name)
            for name in ("sn", "sx", "sy", "sxx", "syy", "sxy")
        ]
    )
    return g.select(
        "l_returnflag",
        F.expr(_RA_SLOPE).alias("slope"),
        F.expr(_RA_INTERCEPT).alias("intercept"),
        F.expr(_RA_R2).alias("r2"),
        F.col("sn").cast("bigint").alias("n_pairs"),
    )


@query(
    "median_by_group",
    """
    SELECT l_returnflag,
           round(median(l_quantity), 4)      AS med_qty,
           round(median(l_extendedprice), 4) AS med_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def median_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median per group (percentile_cont(0.5)
    semantics on both engines — the even-count midpoint averages). Like
    exact_percentiles this materializes each group's values, so it is
    the small-group-count parity twin; approx_quantiles is the 100 TB
    path."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
        F.round(F.median("l_extendedprice"), 4).alias("med_price"),
    )


@query(
    "argminmax_agg",
    """
    WITH ranked AS (
      SELECT event_type, user_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, user_id DESC) AS rmax,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value ASC,  user_id ASC)  AS rmin
      FROM events
    )
    SELECT event_type,
           max(CASE WHEN rmax = 1 THEN user_id END) AS top_user,
           max(CASE WHEN rmin = 1 THEN user_id END) AS bottom_user
    FROM ranked GROUP BY event_type
    """,
)
def argminmax_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by argmax aggregates: the user attached to each event
    type's extreme value, in ONE hash-aggregate pass — no sort, no
    window. The ordering key is struct(value, user_id), a total order,
    so value ties resolve deterministically (bare max_by on a tied value
    is partition-order-dependent — the trap the oracle's row_number
    formulation makes visible). At 100 TB this is a map-side-partial
    aggregate over a handful of groups; the windowed equivalent would
    sort every partition."""
    e = load_table(spark, "events", sf_dir)
    return e.groupBy("event_type").agg(
        F.max_by("user_id", F.struct(F.col("value"), F.col("user_id"))).alias(
            "top_user"
        ),
        F.min_by("user_id", F.struct(F.col("value"), F.col("user_id"))).alias(
            "bottom_user"
        ),
    )


HIST_BUCKET_W = 10_000.0   # equi-width histogram bucket, price units
HIST_LO, HIST_HI = 0.0, 120_000.0
HIST_N = int((HIST_HI - HIST_LO) / HIST_BUCKET_W)


@query(
    "histogram_width_bucket",
    f"""
    SELECT CAST(CASE WHEN o_totalprice < {HIST_LO} THEN 0
                     WHEN o_totalprice >= {HIST_HI} THEN {HIST_N} + 1
                     ELSE 1 + floor((o_totalprice - {HIST_LO}) / {HIST_BUCKET_W})
                END AS BIGINT) AS bucket,
           count(*)                    AS n,
           round(min(o_totalprice), 4) AS lo,
           round(max(o_totalprice), 4) AS hi
    FROM orders
    GROUP BY bucket
    """,
)
def histogram_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram via width_bucket — the one-pass
    distribution profile (bucket id is a pure scalar, so this is a
    map-side-partial hash aggregate over ~{HIST_N} keys; contrast
    length_histogram's log-scale buckets). Overflow rows land in bucket
    {HIST_N}+1 by width_bucket's contract on both engines."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.select(
            F.width_bucket("o_totalprice", F.lit(HIST_LO), F.lit(HIST_HI), F.lit(HIST_N)).alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
        )
    )


@query(
    "boolean_agg",
    """
    SELECT event_type,
           count(*) FILTER (WHERE value > 100)  AS n_big,
           bool_and(value >= 0)                 AS all_nonneg,
           bool_or(value > 500)                 AS any_huge,
           round(avg(CASE WHEN value > 100 THEN value END), 4) AS avg_big
    FROM events
    GROUP BY event_type
    """,
)
def boolean_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-aggregate battery: count_if / bool_and (every) /
    bool_or (some) and a conditional avg — the validation-rule shape
    ("no negative values, how many outliers") evaluated in ONE hash
    aggregate pass instead of one query per rule. All four are plain
    map-side-partial aggregates; nothing here adds a shuffle beyond the
    group key."""
    e = load_table(spark, "events", sf_dir)
    return e.groupBy("event_type").agg(
        F.count_if(F.col("value") > 100).alias("n_big"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 500).alias("any_huge"),
        F.round(F.avg(F.when(F.col("value") > 100, F.col("value"))), 4).alias("avg_big"),
    )


@query(
    "mode_by_group",
    """
    SELECT lang, source AS top_source, n FROM (
      SELECT lang, source, count(*) AS n,
             row_number() OVER (PARTITION BY lang
                                ORDER BY count(*) DESC, source) AS rn
      FROM documents GROUP BY lang, source)
    WHERE rn = 1
    """,
)
def mode_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent source per language — mode with a DETERMINISTIC
    tie-break (smallest source name among the tied counts). Spark's
    built-in `mode()` aggregate picks an arbitrary tied value
    (partition-order-dependent), so the portable formulation is
    count-then-rank: one hash aggregate on (lang, source), then a window
    over the tiny aggregate result — the window sorts group COUNTS, not
    rows, so its cost is negligible at any scale."""
    d = load_table(spark, "documents", sf_dir)
    counts = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "source")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("source").alias("top_source"), "n")
    )


# moments_agg exact-moment contract (r7 kernel purge): l_quantity is
# INTEGRAL (verified on the data; q=1 grid is the identity), so the four
# power sums are plain exact int64 — xq^4 <= 6.25e6 per row, sums
# <= 3.75e13 at sf1eq and < 2^63 up to ~10^5x that. Central moments and
# the g1/g2 ratios are one shared double expression; pow() (a libm
# kernel, NOT correctly rounded everywhere) is avoided — m2^1.5 is
# sqrt(m2)*m2 and squares are explicit multiplies, all IEEE-exact ops.
_MA_XQ = qlong_sql("l_quantity", 1)
_MA_G = {
    "sn": count_d_sql("xq"),
    "s1": sum_d_sql("xq"),
    "s2": sum_d_sql("xq * xq"),
    "s3": sum_d_sql("xq * xq * xq"),
    "s4": sum_d_sql("xq * xq * xq * xq"),
}
_MA_MU = "(s1 / sn)"
_MA_M2 = f"(s2 / sn - {_MA_MU} * {_MA_MU})"
_MA_M3 = (
    f"(s3 / sn - 3.0 * {_MA_MU} * (s2 / sn)"
    f" + 2.0 * {_MA_MU} * {_MA_MU} * {_MA_MU})"
)
_MA_M4 = (
    f"(s4 / sn - 4.0 * {_MA_MU} * (s3 / sn)"
    f" + 6.0 * {_MA_MU} * {_MA_MU} * (s2 / sn)"
    f" - 3.0 * {_MA_MU} * {_MA_MU} * {_MA_MU} * {_MA_MU})"
)
_MA_SKEW = (
    f"CASE WHEN {_MA_M2} > 0.0 THEN "
    + fgrid_sql(f"{_MA_M3} / (sqrt({_MA_M2}) * {_MA_M2})", 4)
    + " END"
)
_MA_KURT = (
    f"CASE WHEN {_MA_M2} > 0.0 THEN "
    + fgrid_sql(f"{_MA_M4} / ({_MA_M2} * {_MA_M2}) - 3.0", 4)
    + " END"
)


@query(
    "moments_agg",
    f"""
    WITH q AS (SELECT l_returnflag, {_MA_XQ} AS xq FROM lineitem),
    g AS (
      SELECT l_returnflag,
             {_MA_G['sn']} AS sn, {_MA_G['s1']} AS s1, {_MA_G['s2']} AS s2,
             {_MA_G['s3']} AS s3, {_MA_G['s4']} AS s4
      FROM q GROUP BY l_returnflag)
    SELECT l_returnflag, CAST(sn AS BIGINT) AS n,
           {_MA_SKEW} AS skew_pop,
           {_MA_KURT} AS kurt_pop
    FROM g
    """,
)
def moments_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness / excess kurtosis per group — the
    distribution-shape gates of a data-quality report (heavy-tailed
    value columns break mean-based thresholds). Population (g1, g2)
    estimators, i.e. Spark's skewness()/kurtosis() definition — but NOT
    its kernels (r7 purge): the engines' streaming central-moment
    updates differ in trailing ulps per build, the class behind the r5
    heaps driver FAIL. Here the four raw power sums are exact int64
    (quantity is integral — the q=1 grid is the identity on this data)
    and g1/g2 derive in one shared double expression over identical
    integers on both engines; m2^1.5 is spelled sqrt(m2)*m2 because
    pow() is a libm kernel with no cross-engine rounding guarantee.
    One map-side-partial hash aggregate; the power sums ride the same
    pass as the count — shuffle is 3 tiny rows at any scale."""
    li = load_table(spark, "lineitem", sf_dir)
    q = li.select("l_returnflag", F.expr(_MA_XQ).alias("xq"))
    g = q.groupBy("l_returnflag").agg(
        *[F.expr(sql).alias(name) for name, sql in _MA_G.items()]
    )
    return g.select(
        "l_returnflag",
        F.col("sn").cast("bigint").alias("n"),
        F.expr(_MA_SKEW).alias("skew_pop"),
        F.expr(_MA_KURT).alias("kurt_pop"),
    )


@query(
    "try_functions",
    """
    SELECT event_id,
           CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) = 0 THEN NULL
                ELSE floor(value / CAST(json_extract(props, '$.k') AS BIGINT)
                           * 10000 + 0.5) / 10000.0
           END                                        AS value_per_k,
           try_cast(event_type AS BIGINT)             AS type_as_int,
           try_cast(substr(event_type, 1, 1) AS INTEGER) IS NOT NULL
                                                      AS starts_numeric
    FROM events
    """,
)
def try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Defensive-ETL battery: try_divide / try_cast turn the
    poison-pill rows that abort a 100 TB job (divide-by-zero, junk in a
    numeric column) into NULLs the pipeline can quarantine — the
    column-level complement of the parse chain's bad-records policy.
    DuckDB has try_cast but no try_divide, so the oracle spells that one
    as a guarded CASE; all still whole-stage codegen, no UDFs."""
    from ..schemas import EVENT_PROPS

    e = load_table(spark, "events", sf_dir)
    k = F.from_json(F.col("props"), EVENT_PROPS).getField("k")
    return e.select(
        "event_id",
        # floor(x*1e4+0.5)/1e4, NOT round(x,4): Spark rounds via exact
        # BigDecimal HALF_UP, DuckDB via scaled float rounding — they
        # disagree on representation-boundary ties. The floor grid is the
        # same IEEE ops on both engines, so it can't diverge.
        (F.floor(F.try_divide(F.col("value"), k) * 10000 + 0.5) / 10000.0).alias(
            "value_per_k"
        ),
        # try_cast, not try_to_number('999999'): the format string caps at
        # 6 digits and rejects signs/whitespace, where the oracle's
        # try_cast(.. AS BIGINT) accepts them — same semantics only on
        # data that never exercises those cases.
        #
        # The rlike PRE-GUARD is a measured 17x: try_cast's failure path
        # raises/catches a JVM exception PER ROW, and on a column that is
        # never numeric that is an exception per record (0.79 s vs 0.05 s
        # over 100k rows at sf0.1 — at 100 TB it's the difference between
        # a projection and a GC storm). The regex admits exactly the
        # integral forms Spark's string->bigint cast accepts (trimmed
        # whitespace, sign, ASCII digits), so try_cast still decides the
        # edge cases (e.g. int64 overflow -> NULL) but only runs on
        # numeric-LOOKING strings.
        F.when(
            F.col("event_type").rlike(r"^\s*[+-]?\d+\s*$"),
            F.col("event_type").try_cast("bigint"),
        ).alias("type_as_int"),
        F.when(
            F.substring("event_type", 1, 1).rlike(r"^\d$"),
            F.substring("event_type", 1, 1).try_cast("int"),
        )
        .isNotNull()
        .alias("starts_numeric"),
    )


@query(
    "hll_partial_merge",
    """
    SELECT event_type,
           count(DISTINCT user_id)           AS exact_users,
           count(DISTINCT CAST(ts AS DATE))  AS n_daily_sketches,
           true                              AS est_within_5pct
    FROM events GROUP BY event_type
    """,
)
def hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (Apache DataSketches HLL): per-(type, day)
    user sketches built in one pass, then UNIONED per type — the pattern
    that makes distinct-count rollups incremental at 100 TB: daily
    sketches persist (a few KB each), and any time-range's distinct
    count is a cheap union of stored sketches instead of a re-scan of
    raw data (exact count(DISTINCT) cannot merge: distinct-per-day does
    not sum). HLL union is lossless — union-of-sketches IS the sketch
    of the union; pinned as an invariant in tests together with the
    error bound vs exact.

    Tolerance-banded oracle (upgraded from rows-only, like
    `approx_distinct`): the sketch estimate is impl-defined, so the
    query emits the exact distinct counts plus a 5% band flag on the
    merged estimate that the oracle asserts true — out-of-band merges
    become driver FAILs. The exact aggregate is a 5-row broadcast join,
    test scaffolding only."""
    e = load_table(spark, "events", sf_dir)
    daily = (
        e.select(
            "event_type",
            F.col("ts").cast("date").alias("d"),
            "user_id",
        )
        .groupBy("event_type", "d")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        F.count(F.lit(1)).alias("n_daily_sketches"),
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("exact_users")
    )
    return merged.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "exact_users",
        "n_daily_sketches",
        (
            F.abs(F.col("est_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("est_within_5pct"),
    )


# incremental_stats_merge exact contract (r7 kernel purge): value is
# exact 2-decimal on this data, so vq = value*100 is lossless int64
# (<= 5.7e4; vq^2 <= 3.2e9/row; global sums <= 3.2e15 at sf1eq, three
# orders under 2^63). INT sums make the two-level merge EXACT — integer
# addition is associative, so daily-partial merge == direct single-pass
# bit-for-bit, which is the whole mergeability claim (the float version
# could only prove it on a rounded grid).
_IS_VQ = qlong_sql("value", 100)
_IS_VARN = varn_sql("sn", "s2", "s1")
_IS_MEAN = fgrid_sql("s1 / (sn * 1e2)", 4)
_IS_STD = (
    f"CASE WHEN {_IS_VARN} <= 0.0 THEN 0.0 ELSE "
    + fgrid_sql(f"sqrt({_IS_VARN}) / (sn * 1e2)", 4)
    + " END"
)


@query(
    "incremental_stats_merge",
    f"""
    WITH q AS (SELECT event_type, {_IS_VQ} AS vq FROM events),
    g AS (
      SELECT event_type, {count_d_sql('vq')} AS sn,
             {sum_d_sql('vq')} AS s1, {sum_d_sql('vq * vq')} AS s2
      FROM q GROUP BY event_type)
    SELECT event_type, CAST(sn AS BIGINT) AS n,
           {_IS_MEAN} AS mean_value,
           {_IS_STD}  AS std_value
    FROM g
    """,
)
def incremental_stats_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable moments (Chan et al.'s parallel variance): per-day
    partials (n, Σvq, Σvq²) combine into the global mean/std_pop via
    pure addition — the incremental-statistics pattern that lets a
    100 TB pipeline maintain running column stats by merging each new
    day's partial instead of re-scanning history (same role HLL
    partial-merge plays for distinct counts). The oracle computes the
    DIRECT single-pass aggregate; the query computes the two-level
    merged form — and because the partials are exact int64 on the
    lossless q=100 grid (r7 purge; value is 2-decimal data), integer
    associativity makes merged == direct EXACTLY, not merely on a
    rounded grid. No avg/stddev kernels: mean and std_pop derive in
    one shared double expression over identical integers on both
    engines (module constants above). std_pop of a constant group is
    0.0 via the shared integer-exact guard — sqrt(-eps) NaN and the
    engines' divide-by-zero divergence are unreachable. sqrt(n²·varp)
    note: std = sqrt(n·s2 − s1²)/(n·q) because pop-variance n² scale
    factors out of the root exactly."""
    e = load_table(spark, "events", sf_dir)
    daily = (
        e.select(
            "event_type",
            F.col("ts").cast("date").alias("d"),
            F.expr(_IS_VQ).alias("vq"),
        )
        .groupBy("event_type", "d")
        .agg(
            F.count("vq").alias("n_day"),
            F.sum("vq").alias("s1_day"),
            F.sum(F.expr("vq * vq")).alias("s2_day"),
        )
    )
    merged = daily.groupBy("event_type").agg(
        F.sum("n_day").cast("double").alias("sn"),
        F.sum("s1_day").cast("double").alias("s1"),
        F.sum("s2_day").cast("double").alias("s2"),
    )
    return merged.select(
        "event_type",
        F.col("sn").cast("bigint").alias("n"),
        F.expr(_IS_MEAN).alias("mean_value"),
        F.expr(_IS_STD).alias("std_value"),
    )


@query(
    "decimal_money_agg",
    """
    WITH money AS (
      SELECT l_returnflag, l_linestatus,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
             CAST(l_discount      AS DECIMAL(4,2))  AS disc
      FROM lineitem)
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           round(CAST(sum(price * (1 - disc)) AS DOUBLE), 4) AS revenue,
           round(CAST(sum(price) AS DOUBLE), 4)              AS gross
    FROM money
    GROUP BY l_returnflag, l_linestatus
    """,
)
def decimal_money_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL money aggregation — the fixed-point twin of the
    float revenue aggregates elsewhere in the registry. Why it exists:
    a DOUBLE sum over billions of rows is order-dependent (partial
    aggregation reorders additions, so the 4th decimal can flip between
    runs/cluster layouts), while DECIMAL addition is associative —
    the sum is EXACT and bit-stable no matter how AQE re-partitions.
    This is the correct type discipline for revenue at 100 TB; the cast
    to DOUBLE happens once, after the exact aggregate. Plan-wise it is
    the same single partial+final hash-agg as `groupby_agg` — decimals
    stay inside whole-stage codegen (Tungsten fixed-precision
    arithmetic), no UDF, no Python."""
    li = load_table(spark, "lineitem", sf_dir)
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    money = li.select(
        "l_returnflag",
        "l_linestatus",
        price.alias("price"),
        disc.alias("disc"),
    )
    one = F.lit(1).cast("decimal(3,2)")
    return money.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("price") * (one - F.col("disc"))).cast("double"), 4
        ).alias("revenue"),
        F.round(F.sum("price").cast("double"), 4).alias("gross"),
    )


@query(
    "impute_group_median",
    """
    WITH m AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v
      FROM events),
    med AS (
      SELECT event_type, round(median(v), 6) AS med FROM m GROUP BY 1)
    SELECT m.event_id, m.event_type,
           CASE WHEN m.v IS NULL THEN 1 ELSE 0 END AS was_imputed,
           coalesce(m.v, med.med) AS filled
    FROM m JOIN med USING (event_type)
    """,
)
def impute_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null imputation by per-group exact median — the standard feature-
    cleaning op (fill missing sensor values with the group's central
    tendency). A deterministic mask (event_id % 11) stands in for real
    nulls so the query is reproducible against the oracle.

    Shape: one aggregation shuffle builds the per-event_type median
    table (|event_types| rows), which broadcasts back onto the fact
    scan — the fact table itself never shuffles for the join. Exact
    median is a TypedImperativeAggregate that buffers each group's
    values; safe here because groups are few, but at 100 TB with
    heavy groups swap `F.median` for `F.percentile_approx("v", 0.5)`
    (mergeable KLL-style sketch, bounded memory) — same plan shape,
    the buffer becomes O(1/eps). Both sides round the median to 6
    before the fill so the interpolation convention can't skew bits;
    unmasked values pass through raw and match exactly."""
    e = load_table(spark, "events", sf_dir)
    m = e.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 11 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
    )
    med = m.groupBy("event_type").agg(F.round(F.median("v"), 6).alias("med"))
    return m.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        F.when(F.col("v").isNull(), 1).otherwise(0).alias("was_imputed"),
        F.coalesce("v", "med").alias("filled"),
    )


@query(
    "benford_check",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1),
    obs AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
    tot AS (SELECT sum(n) AS total FROM obs)
    SELECT o.digit, o.n,
           round(CAST(o.n AS DOUBLE) / t.total, 6)      AS obs_freq,
           round(log10(1 + 1.0 / o.digit), 6)           AS exp_freq,
           round(pow(CAST(o.n AS DOUBLE) / t.total
                     - log10(1 + 1.0 / o.digit), 2)
                 / log10(1 + 1.0 / o.digit), 6)         AS chi2_term
    FROM obs o CROSS JOIN tot t
    """,
)
def benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformity check on a monetary column: observed
    first-significant-digit frequencies vs log10(1 + 1/d), with each
    digit's chi-square contribution — the forensic data-quality test
    for fabricated or truncated numeric feeds (a synthetic uniform
    price book, like this one, FAILS loudly — that's the point of the
    report; the op is the machinery, not a claim about the data).

    Cross-engine discipline: the leading digit comes from an INTEGER
    formatted to string (floor -> bigint -> varchar), never from float
    formatting (engines disagree on float-to-string) and never from
    log10-based digit math (ulp at exact powers of ten). One map-side
    collapsed digit count; the 9-row result cross-joins the 1-row
    total. Scale-free."""
    o = load_table(spark, "orders", sf_dir)
    d = o.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").alias("total"))
    exp_freq = F.log10(1 + 1.0 / F.col("digit"))
    obs_freq = F.col("n").cast("double") / F.col("total")
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(obs_freq, 6).alias("obs_freq"),
        F.round(exp_freq, 6).alias("exp_freq"),
        F.round(F.pow(obs_freq - exp_freq, 2) / exp_freq, 6).alias("chi2_term"),
    )


# ---------------------------------------------------- equi_depth_histogram

EQD_BUCKETS = 8


@query(
    "equi_depth_histogram",
    f"""
    WITH lv AS (
      SELECT o_orderpriority AS priority, o_totalprice AS v,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2),
    pos AS (
      SELECT priority, v, c,
             sum(c) OVER (PARTITION BY priority ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS cum0,
             sum(c) OVER (PARTITION BY priority) AS n
      FROM lv)
    SELECT priority,
           CAST((cum0 * {EQD_BUCKETS}) // n AS INT) AS bucket,
           min(v)                       AS lo,
           max(v)                       AS hi,
           CAST(sum(c) AS BIGINT)       AS n_rows,
           CAST(count(*) AS BIGINT)     AS n_distinct
    FROM pos GROUP BY 1, 2
    """,
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) histogram of order price per priority —
    the statistics object a cost-based optimizer collects per column
    (ANALYZE ... COMPUTE STATISTICS FOR COLUMNS builds exactly this):
    {EQD_BUCKETS} buckets of ~equal ROW count, each reporting bounds,
    rows, and NDV, robust to skew where `length_histogram`'s equal-WIDTH
    bins collapse.

    Shape: rows are never ranked — the table collapses to the
    (priority, value) lattice first, then ONE window pass per priority
    over the lattice assigns each distinct value its bucket by pure
    integer position math (`(cum_before * B) div N`, `div` == `//` on
    the non-negative domain: engine-exact, no percentile interpolation
    to disagree on). A distinct value never splits across buckets (the
    statistically right choice for NDV accounting — heavy values make
    one bucket deeper instead of lying about boundaries). Windows
    partition by priority, so the sort is lattice-bounded AND parallel;
    a single-column global histogram at 100 TB would swap the lattice
    window for the two-pass prefix sum `running_total` uses."""
    o = load_table(spark, "orders", sf_dir)
    lv = o.groupBy(
        F.col("o_orderpriority").alias("priority"), F.col("o_totalprice").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("priority")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("priority")
    pos = lv.select(
        "priority",
        "v",
        "c",
        (F.sum("c").over(wcum) - F.col("c")).alias("cum0"),
        F.sum("c").over(wall).alias("n"),
    )
    return pos.groupBy(
        "priority",
        F.expr(f"CAST((cum0 * {EQD_BUCKETS}) div n AS INT)").alias("bucket"),
    ).agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct"),
    )


# ------------------------------------------------------ arrow_map_surface


@query(
    "arrow_map_surface",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT)                 AS n_chars,
           CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace
    FROM documents
    """,
)
def arrow_map_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow surface: the zero-copy sibling of mapInPandas
    (`udf_surface`) — the UDF receives raw pyarrow RecordBatches and
    answers with RecordBatches, skipping the Arrow->pandas->Arrow
    conversion entirely. The right API tier when the Python work is
    itself Arrow-native (pyarrow.compute kernels, Arrow-backed parsers,
    DataFusion/Polars handoffs): all three outputs here are computed by
    vectorized pa.compute kernels, no pandas materialization, no
    per-row Python.

    The computation is deliberately deterministic string math (token /
    char / non-space counts) so this API class gets a FULL value-hash
    oracle — unlike most UDF demos. Plumbing notes that matter at
    100 TB: output batches preserve input batch boundaries (no
    re-batching memory spike), the UDF projects doc_id+text only
    (column pruning still reaches the scan), and the partition count is
    untouched.

    Reference provenance: the reference's per-row ForeachWriter
    (cassandra_sink.scala:30-56) is the row-at-a-time anti-pattern this
    surface replaces with batch-vectorized Python."""
    import pyarrow as pa
    import pyarrow.compute as pc

    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")

    def counts(batches):
        for batch in batches:
            text = batch.column("text")
            n_tokens = pc.list_value_length(
                pc.split_pattern(text, pattern=" ")
            ).cast(pa.int64())
            n_chars = pc.utf8_length(text).cast(pa.int64())
            n_nonspace = pc.utf8_length(
                pc.replace_substring(text, pattern=" ", replacement="")
            ).cast(pa.int64())
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), n_tokens, n_chars, n_nonspace],
                ["doc_id", "n_tokens", "n_chars", "n_nonspace"],
            )

    return d.mapInArrow(
        counts, "doc_id long, n_tokens long, n_chars long, n_nonspace long"
    )
