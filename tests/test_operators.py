"""Operator unit tests — edge cases the oracle harness can't see.

(The oracle harness tools/check.py + the driver's CORRECTNESS gate cover
value correctness; these cover semantics at the edges and approximate ops.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from structured_streaming_cassandra_sink_spark.plans import registry
from structured_streaming_cassandra_sink_spark.sources import load_table

registry.load_all()


def test_dedup_by_key_is_unique(spark, sf_dir):
    df = registry.QUERIES["dedup_by_key"](spark, sf_dir)
    total = df.count()
    assert df.select("o_custkey").distinct().count() == total


def test_topk_is_prefix_of_full_sort(spark, sf_dir):
    """Property: top-k == first k of the full sort (SURVEY.md §5.4)."""
    li = load_table(spark, "lineitem", sf_dir)
    full = (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .collect()
    )
    topk = registry.QUERIES["sort_limit_topk"](spark, sf_dir).collect()
    assert topk == full[:10]


def test_approx_distinct_error_bound(spark, sf_dir):
    """The banded query carries its own 5% HLL++ tolerance check; assert
    the flags hold and the exact columns agree with countDistinct."""
    li = load_table(spark, "lineitem", sf_dir)
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag").agg(F.countDistinct("l_partkey").alias("n")).collect()
    }
    rows = registry.QUERIES["approx_distinct"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.parts_in_band and r.supps_in_band, r
        assert r.exact_parts == exact[r.l_returnflag]


def test_approx_quantiles_rank_error_bound(spark, sf_dir):
    """percentile_approx guarantees rank error <= n/accuracy (GK sketch);
    the banded query checks the sketch lands inside the exact
    [q-0.01, q+0.01] rank bracket — assert the flags hold."""
    rows = registry.QUERIES["approx_quantiles"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.p50_in_band and r.p90_in_band, r


def test_set_except_semantics(spark):
    """EXCEPT removes a key present on the right entirely, regardless of
    left multiplicity (the subtract-vs-exceptAll distinction)."""
    left = spark.createDataFrame([(1,), (1,), (2,)], "custkey int")
    right = spark.createDataFrame([(1,)], "custkey int")
    assert [r.custkey for r in left.subtract(right).collect()] == [2]


def test_rollup_has_all_levels(spark, sf_dir):
    rows = registry.QUERIES["grouping_sets"](spark, sf_dir).collect()
    # grand total row: both keys null
    grand = [r for r in rows if r.l_returnflag is None and r.l_linestatus is None]
    assert len(grand) == 1
    total = sum(r.n for r in rows if r.l_returnflag is not None and r.l_linestatus is not None)
    assert grand[0].n == total


def test_salted_join_equals_plain(spark, sf_dir):
    """Salting is invisible in results: salted join == plain join."""
    from structured_streaming_cassandra_sink_spark.operators.relational import salted_join
    from structured_streaming_cassandra_sink_spark.sources import load_table
    import pyspark.sql.functions as F

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_returnflag")
    dim = li.select("l_returnflag").distinct().withColumn(
        "flag_name", F.concat(F.lit("flag_"), F.col("l_returnflag"))
    )
    salted = salted_join(li, dim, "l_returnflag", salts=4, salt_source="l_orderkey")
    plain = li.join(dim, "l_returnflag")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0
    assert "__salt" not in salted.columns


def test_connected_components_known_graph(spark):
    """Two triangles + a bridge node + an isolated pair: min-label comps."""
    from structured_streaming_cassandra_sink_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (3, 10), (20, 21)],
        ["src", "dst"],
    )
    got = {r.node: r.comp for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 12: 1, 20: 20, 21: 20}


def test_asof_join_semantics(spark):
    """Inclusive tie, no-match null, multiple priors -> latest wins."""
    from structured_streaming_cassandra_sink_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [("a", 5, 1), ("a", 2, 2), ("a", 1, 3), ("b", 3, 4)],
        ["k", "ts", "row_id"],
    )
    right = spark.createDataFrame(
        [("a", 2, 100), ("a", 4, 200), ("b", 9, 300)],
        ["k", "ts", "price"],
    )
    got = {
        r.row_id: r.price
        for r in asof_join(left, right, "k", "ts", "ts", ["price"]).collect()
    }
    #   row 1 (a,5): latest right <=5 is (a,4)->200
    #   row 2 (a,2): tie with (a,2) -> inclusive -> 100
    #   row 3 (a,1): nothing before -> null
    #   row 4 (b,3): right (b,9) is after -> null
    assert got == {1: 200, 2: 100, 3: None, 4: None}


def test_custom_operators_handle_empty_inputs(spark):
    """Empty frames flow through every custom operator without error."""
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    from structured_streaming_cassandra_sink_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )
    from structured_streaming_cassandra_sink_spark.operators.relational import salted_join
    from structured_streaming_cassandra_sink_spark.operators.timeseries import asof_join
    from structured_streaming_cassandra_sink_spark.plans.flagship import latest_per_key

    empty_edges = spark.createDataFrame(
        [], T.StructType([T.StructField("src", T.LongType()), T.StructField("dst", T.LongType())])
    )
    assert connected_components(empty_edges).count() == 0

    empty_docs = spark.createDataFrame(
        [], T.StructType([T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())])
    )
    assert ngram_jaccard_pairs(empty_docs).count() == 0
    assert ngram_jaccard_pairs_prefix(empty_docs).count() == 0

    left = spark.createDataFrame([("a", 1, 10)], ["k", "ts", "x"])
    empty_right = spark.createDataFrame(
        [], T.StructType([
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.LongType()),
            T.StructField("p", T.LongType()),
        ])
    )
    rows = asof_join(left, empty_right, "k", "ts", "ts", ["p"]).collect()
    assert [(r.x, r.p) for r in rows] == [(10, None)]

    dim = spark.createDataFrame([("a", "name_a")], ["k", "nm"])
    empty_fact = spark.createDataFrame(
        [], T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.LongType())])
    )
    assert salted_join(empty_fact, dim, "k", salts=2, salt_source="v").count() == 0

    empty_events = spark.createDataFrame(
        [], T.StructType([
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("event_id", T.LongType()),
        ])
    )
    assert latest_per_key(empty_events, "user_id", ["ts", "event_id"]).count() == 0


def test_short_and_empty_documents(spark):
    """Docs shorter than the shingle size produce no pairs but don't
    break; cluster assignment still covers every doc (as singletons)."""
    from structured_streaming_cassandra_sink_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "exactly three words here")],
        ["doc_id", "text"],
    )
    assert ngram_jaccard_pairs(docs).count() == 0


def test_running_total_matches_global_window(spark, sf_dir):
    """Two-pass distributed prefix sum == single-partition global window."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from structured_streaming_cassandra_sink_spark.operators.timeseries import running_total
    from structured_streaming_cassandra_sink_spark.sources import load_table

    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    got = {
        r.o_orderkey: round(r.rt, 2)
        for r in running_total(o, "o_orderkey", "o_totalprice", "rt").collect()
    }
    w = Window.orderBy("o_orderkey").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        r.o_orderkey: round(r.rt, 2)
        for r in o.withColumn("rt", F.sum("o_totalprice").over(w)).collect()
    }
    assert got == want


def test_training_shards_layout_and_determinism(spark, sf_dir, tmp_path):
    """Shard writes: stable hash assignment (two writes identical),
    content-complete, one file per shard dir, sorted within each file."""
    import glob

    import pyspark.sql.functions as F

    from structured_streaming_cassandra_sink_spark.sources import load_table
    from structured_streaming_cassandra_sink_spark.sources.shards import write_training_shards

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang", "n_chars")
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_training_shards(docs, p1, n_shards=4, key="doc_id")
    write_training_shards(docs.orderBy(F.rand(7)), p2, n_shards=4, key="doc_id")

    dirs1 = sorted(glob.glob(p1 + "/shard=*"))
    assert [d.split("=")[-1] for d in dirs1] == ["0", "1", "2", "3"]
    back = spark.read.parquet(p1)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    for d in dirs1:
        files = glob.glob(d + "/part-*")
        assert len(files) == 1, d
        ids = [r.doc_id for r in spark.read.parquet(files[0]).collect()]
        assert ids == sorted(ids), d
        # determinism: same doc set in the same shard regardless of input order
        twin = d.replace(p1, p2)
        ids2 = {r.doc_id for r in spark.read.parquet(twin).collect()}
        assert set(ids) == ids2, d


def test_applyinpandas_zscore_matches_window_form(spark, sf_dir):
    """Grouped-map pandas z-score == Catalyst window z-score. The query
    output is rounded to 4 decimals (oracle grid), so the tolerance is
    half an ulp of that grid plus float-order noise."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES
    from structured_streaming_cassandra_sink_spark.sources import load_table

    got = {r.event_id: r.z for r in QUERIES["groupwise_zscore_pandas"](spark, sf_dir).collect()}
    w = Window.partitionBy("event_type")
    events = load_table(spark, "events", sf_dir)
    want_df = events.select(
        "event_id",
        (
            (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
        ).alias("z"),
    )
    want = {r.event_id: r.z for r in want_df.collect()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) <= 5e-5 + 1e-9, k


def test_sql_api_over_registered_views(spark, sf_dir):
    """The SQL entry point: testdata registered as views, plain
    spark.sql() answers match the DataFrame path."""
    import pyspark.sql.functions as F

    from structured_streaming_cassandra_sink_spark.sources import load_table
    from structured_streaming_cassandra_sink_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    got = spark.sql(
        """
        SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
    ).collect()
    want = (
        load_table(spark, "lineitem", sf_dir)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 4).alias("qty"))
        .orderBy("l_returnflag")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_asof_join_right_tie_break_deterministic(spark):
    """Multiple RIGHT rows at the same (key, ts): with right_tie the
    greatest tie value wins, independent of partitioning/run."""
    from structured_streaming_cassandra_sink_spark.operators.timeseries import asof_join

    left = spark.createDataFrame([(1, 10)], "k int, ts int")
    right = spark.createDataFrame(
        [(1, 5, 100.0, 1), (1, 5, 200.0, 3), (1, 5, 150.0, 2)],
        "k int, ts int, price double, rid int",
    )
    for _ in range(3):  # repartition shuffles row order between runs
        rows = asof_join(
            left, right.repartition(8), "k", "ts", "ts", ["price"], right_tie="rid"
        ).collect()
        assert len(rows) == 1 and rows[0].price == 200.0


def test_contamination_excludes_eval_docs(spark, sf_dir):
    """Output lists only TRAINING docs; fractions are sane; every listed
    doc genuinely overlaps (n_overlap >= 1)."""
    from structured_streaming_cassandra_sink_spark.operators.curation import EVAL_MOD

    rows = registry.QUERIES["contamination_check"](spark, sf_dir).collect()
    for r in rows:
        assert r.doc_id % EVAL_MOD != 0
        assert 1 <= r.n_overlap <= r.n_shingles
        assert 0.0 < r.contam_frac <= 1.0


def test_repetition_filter_verdict_consistent(spark, sf_dir):
    """Verdict is exactly the thresholded fractions (same rounding grid),
    and a fully-repetitive doc ("a a a ... a") must be dropped."""
    from structured_streaming_cassandra_sink_spark.operators.text import (
        MAX_DUP_TOKEN_FRAC,
        MAX_TOP_BIGRAM_FRAC,
    )

    rows = registry.QUERIES["repetition_filter"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        expect = (
            "keep"
            if r.dup_token_frac <= MAX_DUP_TOKEN_FRAC
            and r.top_bigram_frac <= MAX_TOP_BIGRAM_FRAC
            else "drop"
        )
        assert r.verdict == expect, r
        assert 0.0 <= r.dup_token_frac < 1.0
        assert r.top_bigram_frac > 0.0


def test_source_budget_sample_caps_rates(spark, sf_dir):
    """Rates derived from data: capped at 10000 permyriad, and any source
    sampled below 100% must actually exceed the token budget."""
    from structured_streaming_cassandra_sink_spark.operators.curation import (
        SOURCE_TOKEN_BUDGET,
    )

    rows = registry.QUERIES["source_budget_sample"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.rate_permyriad <= 10000
        if r.rate_permyriad < 10000:
            assert r.total_tokens > SOURCE_TOKEN_BUDGET
        assert r.sampled_tokens <= r.total_tokens
        assert r.n_sampled >= 1


def test_embedding_quantize_error_bound(spark, sf_dir):
    """Symmetric int8 guarantee: per-element error <= scale/2, so
    mse <= (scale/2)^2; scale is max|x|/127 so qvec uses the full range
    and never exceeds it."""
    rows = registry.QUERIES["embedding_quantize"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.mse <= (r.scale_r / 2) ** 2 + 1e-9, r.vec_id
        qvec = [int(q) for q in r.qvec_csv.split(",")]
        assert max(abs(q) for q in qvec) == 127, r.vec_id  # full range


def test_sessionize_monotone_per_user(spark, sf_dir):
    """Session ids start at 1 and increase by at most 1 between
    consecutive events of a user (ordered by ts, event_id)."""
    from structured_streaming_cassandra_sink_spark.operators.timeseries import SESSION_GAP_US

    events = load_table(spark, "events", sf_dir).select("event_id", "user_id", "ts")
    assigned = registry.QUERIES["sessionize_assign"](spark, sf_dir)
    joined = assigned.join(events, ["event_id", "user_id"]).collect()
    by_user = {}
    for r in joined:
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_id, r.session_seq))
    for user, rows in by_user.items():
        rows.sort()
        assert rows[0][2] == 1, user
        for (t0, _, s0), (t1, _, s1) in zip(rows, rows[1:]):
            assert s1 - s0 in (0, 1), user
            gap_us = (t1 - t0).total_seconds() * 1e6
            # break exactly when the gap exceeds the threshold
            assert (s1 - s0 == 1) == (gap_us > SESSION_GAP_US), (user, gap_us)


def test_jsonl_roundtrip_documents_and_events(spark, sf_dir, tmp_path):
    """JSONL edge format: write + schema-declared read is lossless for
    both text (documents) and micros-precision timestamps (events)."""
    from structured_streaming_cassandra_sink_spark.schemas import TABLES
    from structured_streaming_cassandra_sink_spark.sources import read_jsonl, write_jsonl

    docs = load_table(spark, "documents", sf_dir)
    write_jsonl(docs, str(tmp_path / "docs"))
    back = read_jsonl(spark, str(tmp_path / "docs"), TABLES["documents"])
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))

    events = load_table(spark, "events", sf_dir)
    write_jsonl(events, str(tmp_path / "events"))
    eback = read_jsonl(spark, str(tmp_path / "events"), TABLES["events"])
    assert sorted(map(tuple, eback.collect())) == sorted(map(tuple, events.collect()))


def test_csv_roundtrip_events(spark, sf_dir, tmp_path):
    """CSV edge format: quoting protects the embedded-JSON props column;
    declared schema + FAILFAST means a mistyped row raises, not nulls."""
    from structured_streaming_cassandra_sink_spark.schemas import TABLES
    from structured_streaming_cassandra_sink_spark.sources import read_csv, write_csv

    events = load_table(spark, "events", sf_dir)
    write_csv(events, str(tmp_path / "events_csv"))
    back = read_csv(spark, str(tmp_path / "events_csv"), TABLES["events"])
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, events.collect()))


def test_hll_partial_merge_is_lossless_and_bounded(spark, sf_dir):
    """Two invariants of the HLL rollup: (1) union-of-daily-sketches
    estimates EXACTLY equal the direct whole-range sketch (HLL union is
    lossless — the property that makes stored daily sketches a valid
    substitute for raw re-scans); (2) the estimate is within 5% of the
    exact distinct count."""
    from structured_streaming_cassandra_sink_spark.plans import registry

    rows = registry.QUERIES["hll_partial_merge"](spark, sf_dir).collect()
    assert rows
    e = load_table(spark, "events", sf_dir)
    # the banded query carries the 5% check itself
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in rows:
        assert r.est_within_5pct, r
        assert r.exact_users == exact[r.event_type]
    # losslessness: union-of-daily-sketches == direct whole-range sketch
    merged = {
        r.event_type: r.est
        for r in e.select("event_type", F.col("ts").cast("date").alias("d"), "user_id")
        .groupBy("event_type", "d")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()
    }
    direct = {
        r.event_type: r.est
        for r in e.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert merged == direct, "HLL union must be lossless"


def test_recursive_chain_equals_sessionize_sizes(spark, sf_dir):
    """The recursive-CTE session walk and the window-based sessionizer
    agree on every session's size (two independent formulations of the
    same 15-min-gap rule)."""
    from structured_streaming_cassandra_sink_spark.plans import registry

    rec = registry.QUERIES["session_chain_recursive"](spark, sf_dir).collect()
    siz = sorted(
        (r.user_id, r.n_events) for r in rec
    )
    assigned = registry.QUERIES["sessionize_assign"](spark, sf_dir)
    want = sorted(
        (r.user_id, r.n)
        for r in assigned.groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert siz == want


def test_recursive_chain_past_default_recursion_limit(spark):
    """A single 150-event session exceeds Spark's default
    cteRecursionLevelLimit of 100; the walk must measure the chain and
    raise the limit instead of dying (round-2 judge `weak` item)."""
    from structured_streaming_cassandra_sink_spark.operators.timeseries import (
        _chain_walk,
    )

    n = 120
    ev = spark.createDataFrame(
        # one event per second — all within the 15-min gap, one session
        [(7, i, float(1_700_000_000 + i)) for i in range(n)]
        # plus a second user whose two events break into two sessions
        + [(8, 1000, 1_700_000_000.0), (8, 1001, 1_700_000_000.0 + 3600)],
        "user_id bigint, event_id bigint, ts double",
    )
    rows = [(r.user_id, r.n_events) for r in _chain_walk(spark, ev).collect()]
    assert (7, n) in rows
    assert sorted(c for u, c in rows if u == 8) == [1, 1]
    assert int(spark.conf.get("spark.sql.cteRecursionLevelLimit")) >= n


def test_scd2_intervals_are_contiguous_and_single_current(spark, sf_dir):
    """SCD2 invariants per customer: versions number 1..n consecutively,
    each non-final interval's valid_to equals the next valid_from
    (half-open contiguity), exactly one open (is_current) row, and
    consecutive versions never share a status (else they'd be one
    island)."""
    from structured_streaming_cassandra_sink_spark.plans import registry

    rows = registry.QUERIES["scd2_build"](spark, sf_dir).collect()
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    assert by_cust
    for cust, rs in by_cust.items():
        rs.sort(key=lambda r: r.version)
        assert [r.version for r in rs] == list(range(1, len(rs) + 1))
        assert sum(r.is_current for r in rs) == 1
        assert rs[-1].is_current and rs[-1].valid_to is None
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from
            assert a.status != b.status


def test_split_leakage_safe_no_cluster_spans_splits(spark, sf_dir):
    """Every exact-duplicate cluster lands in exactly one split, and the
    per-split doc counts add up to the corpus."""
    from pyspark.sql import functions as SF

    from structured_streaming_cassandra_sink_spark.operators.curation import (
        hash_bucket,
        split_of,
    )
    from structured_streaming_cassandra_sink_spark.plans import registry
    from structured_streaming_cassandra_sink_spark.sources import load_table

    d = load_table(spark, "documents", sf_dir)
    assigned = d.select(
        SF.md5("text").alias("fp"),
        split_of(hash_bucket(SF.md5("text"))).alias("split"),
    )
    spans = (
        assigned.groupBy("fp")
        .agg(SF.countDistinct("split").alias("k"))
        .filter(SF.col("k") > 1)
        .count()
    )
    assert spans == 0
    summary = registry.QUERIES["split_leakage_safe"](spark, sf_dir).collect()
    assert sum(r.n_docs for r in summary) == d.count()
    assert all(r.n_dup_docs == r.n_docs - r.n_clusters for r in summary)


def test_weighted_sample_is_deterministic_and_complete(spark, sf_dir):
    """Efraimidis-Spirakis hash sampling: per source exactly min(k, n)
    docs with consecutive ranks, byte-identical across re-runs (no RNG
    state anywhere)."""
    from structured_streaming_cassandra_sink_spark.operators.curation import WSAMPLE_K
    from structured_streaming_cassandra_sink_spark.plans import registry
    from structured_streaming_cassandra_sink_spark.sources import load_table

    q = registry.QUERIES["weighted_sample_topk"]
    a = sorted((r.source, r.doc_id, r.rnk) for r in q(spark, sf_dir).collect())
    b = sorted((r.source, r.doc_id, r.rnk) for r in q(spark, sf_dir).collect())
    assert a == b and a
    per_src = {}
    for src, _, rnk in a:
        per_src.setdefault(src, []).append(rnk)
    totals = {
        r.source: r.n
        for r in load_table(spark, "documents", sf_dir)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for src, rnks in per_src.items():
        assert sorted(rnks) == list(range(1, min(WSAMPLE_K, totals[src]) + 1))


def test_union_schema_evolution_null_fill_counts(spark, sf_dir):
    """unionByName(allowMissingColumns): row count is preserved and each
    era-specific column is non-null exactly on its own era's rows."""
    from structured_streaming_cassandra_sink_spark.plans import registry
    from structured_streaming_cassandra_sink_spark.sources import load_table

    row = registry.QUERIES["union_schema_evolution"](spark, sf_dir).collect()[0]
    o = load_table(spark, "orders", sf_dir)
    n_f = o.filter(F.col("o_orderstatus") == "F").count()
    n_o = o.count() - n_f
    assert row.n_rows == n_f + n_o
    assert row.n_with_custkey == n_f
    assert row.n_with_priority == n_o


def test_orc_roundtrip_documents_and_events(spark, sf_dir, tmp_path):
    """ORC round-trip preserves values and declared schema classes for
    both a text-heavy table and a timestamp-bearing one (TIMESTAMP_NTZ
    survives without a format-string contract)."""
    from structured_streaming_cassandra_sink_spark.sources import load_table
    from structured_streaming_cassandra_sink_spark.sources.formats import read_orc, write_orc

    for name in ("documents", "events"):
        df = load_table(spark, name, sf_dir)
        p = str(tmp_path / f"{name}_orc")
        write_orc(df, p)
        back = read_orc(spark, p, df.schema)
        assert back.schema == df.schema
        a = sorted(map(repr, df.collect()))
        b = sorted(map(repr, back.collect()))
        assert a == b


def test_rollup_is_hierarchical_prefix(spark, sf_dir):
    """ROLLUP = detail + per-status subtotal + grand total, and the
    (NULL, priority) combination CUBE would emit never appears."""
    df = registry.QUERIES["rollup_agg"](spark, sf_dir).collect()
    detail = [r for r in df if r.o_orderstatus is not None and r.o_orderpriority is not None]
    status_sub = [r for r in df if r.o_orderstatus is not None and r.o_orderpriority is None]
    grand = [r for r in df if r.o_orderstatus is None and r.o_orderpriority is None]
    bad = [r for r in df if r.o_orderstatus is None and r.o_orderpriority is not None]
    assert len(grand) == 1 and not bad
    assert grand[0].n == sum(r.n for r in detail) == sum(r.n for r in status_sub)


def test_cdc_apply_tombstone_semantics(spark, sf_dir):
    """A key whose LATEST change is a tombstone is absent; every present
    key's value matches an independent max-struct recomputation."""
    e = load_table(spark, "events", sf_dir)
    snap = {r.user_id: r for r in registry.QUERIES["cdc_apply"](spark, sf_dir).collect()}
    last = (
        e.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type", "value")).alias("m"))
        .collect()
    )
    for r in last:
        if r.m.event_type == "error":
            assert r.user_id not in snap
        else:
            assert r.user_id in snap
            assert snap[r.user_id].last_ts == r.m.ts
            assert abs(snap[r.user_id].last_value - round(r.m.value, 4)) < 1e-9


def test_ewma_matches_pandas_reference(spark, sf_dir):
    """Cross-implementation: the grouped-map recurrence agrees with
    pandas' own ewm(adjust=False) to within the per-step quantization
    budget (1e-4 per step, contraction-bounded)."""
    import pandas as pd

    from structured_streaming_cassandra_sink_spark.operators.timeseries import EWMA_ALPHA, EWMA_MAX_N

    e = load_table(spark, "events", sf_dir)
    uid = e.groupBy("user_id").count().orderBy(F.desc("count")).first().user_id
    ours = (
        registry.QUERIES["ewma_smooth"](spark, sf_dir)
        .filter(F.col("user_id") == uid)
        .orderBy("rn")
        .toPandas()
    )
    raw = (
        e.filter(F.col("user_id") == uid)
        .orderBy("ts", "event_id")
        .limit(EWMA_MAX_N)
        .select("value")
        .toPandas()
    )
    ref = raw["value"].ewm(alpha=EWMA_ALPHA, adjust=False).mean()
    assert len(ours) == len(ref) > 1
    # per-step rounding injects <=5e-5; the (1-a) contraction keeps the
    # accumulated gap under ~5e-5/a
    assert (ours["ewma"].to_numpy() - ref.to_numpy()).max() < 5e-5 / EWMA_ALPHA + 1e-9


def test_ewma_carry_across_arrow_batch_boundaries(spark, sf_dir):
    """The r6 mapInPandas rework vectorizes the EWMA recurrence across
    keys within an Arrow batch and carries (uid, state) across batch
    boundaries. Force pathological 7-row batches so nearly every series
    is split mid-recurrence (a series can span 6+ batches) and pin the
    output to the default-batch-size run row-for-row."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    rows = lambda df: sorted(  # noqa: E731
        (r["user_id"], r["rn"], r["ewma"]) for r in df.collect()
    )
    try:
        base = rows(registry.QUERIES["ewma_smooth"](spark, sf_dir))
        spark.conf.set(key, "7")
        tiny = rows(registry.QUERIES["ewma_smooth"](spark, sf_dir))
    finally:
        spark.conf.set(key, before)
    assert len(base) > 100
    assert tiny == base


def test_compaction_plan_conserves_and_bounds(spark, sf_dir):
    """Bins conserve bytes/files exactly, bin ids are dense from 0, and
    no bin exceeds target + one file (the greedy-cumsum guarantee)."""
    from structured_streaming_cassandra_sink_spark.operators.curation import COMPACT_TARGET

    d = load_table(spark, "documents", sf_dir)
    plan = registry.QUERIES["compaction_plan"](spark, sf_dir).collect()
    truth = {
        r.source: (r.files, r.bytes)
        for r in d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("files"), F.sum("n_chars").alias("bytes"))
        .collect()
    }
    max_file = d.agg(F.max("n_chars")).first()[0]
    per_src: dict[str, list] = {}
    for r in plan:
        per_src.setdefault(r.source, []).append(r)
        assert r.bin_bytes < COMPACT_TARGET + max_file
    for src, rows in per_src.items():
        assert sorted(r.bin for r in rows) == list(range(len(rows)))
        assert sum(r.file_count for r in rows) == truth[src][0]
        assert sum(r.bin_bytes for r in rows) == truth[src][1]


def test_decimal_money_agg_partition_invariant(spark, sf_dir):
    """The DECIMAL sum is associative: re-partitioning the input cannot
    change a single bit of the output (the claim that motivates the
    operator; a DOUBLE sum gives no such guarantee)."""
    a = registry.QUERIES["decimal_money_agg"](spark, sf_dir)
    rows_a = {tuple(r) for r in a.collect()}
    li = load_table(spark, "lineitem", sf_dir).repartition(17, "l_partkey")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    b = (
        li.select("l_returnflag", "l_linestatus", price.alias("price"), disc.alias("disc"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("price") * (one - F.col("disc"))).cast("double"), 4).alias("revenue"),
            F.round(F.sum("price").cast("double"), 4).alias("gross"),
        )
    )
    assert {tuple(r) for r in b.collect()} == rows_a


def test_pagerank_conserves_mass(spark, sf_dir):
    """Symmetric graph, no dangling nodes: total rank stays 1 (teleport
    redistributes but never leaks); every rank positive; one row per
    clustered node."""
    from structured_streaming_cassandra_sink_spark.operators.dedup import ngram_jaccard_pairs
    from structured_streaming_cassandra_sink_spark.sources import spread

    pr = registry.QUERIES["dup_graph_pagerank"](spark, sf_dir).collect()
    docs = spread(load_table(spark, "documents", sf_dir))
    pairs = ngram_jaccard_pairs(docs)
    n_nodes = (
        pairs.select(F.col("doc_a").alias("n"))
        .unionAll(pairs.select(F.col("doc_b").alias("n")))
        .distinct()
        .count()
    )
    assert len(pr) == n_nodes
    assert all(r.pagerank > 0 for r in pr)
    assert abs(sum(r.pagerank for r in pr) - 1.0) < 1e-6 * max(n_nodes, 1)


def test_markov_transitions_rows_sum_to_one(spark, sf_dir):
    """Per-src transition probabilities form a distribution: each row of
    the matrix sums to ~1 and every probability is in (0, 1]."""
    df = registry.QUERIES["markov_transitions"](spark, sf_dir)
    rows = df.collect()
    assert rows, "transition matrix is empty"
    by_src = {}
    for r in rows:
        assert 0.0 < r.p <= 1.0
        by_src.setdefault(r.src, 0.0)
        by_src[r.src] += r.p
    for src, total in by_src.items():
        assert abs(total - 1.0) < 1e-4, (src, total)


def test_interpolate_linear_bounds_and_identity(spark, sf_dir):
    """Observed rows pass through untouched; interpolated rows lie
    within [min(neighbors), max(neighbors)] by linearity (checked via
    the global observed value range) and every row is non-null."""
    df = registry.QUERIES["interpolate_linear"](spark, sf_dir)
    ev = load_table(spark, "events", sf_dir)
    n_events = ev.count()
    rows = df.collect()
    assert len(rows) == n_events
    assert all(r.filled is not None for r in rows)
    obs = ev.filter(F.col("event_id") % 7 != 0).agg(
        F.min("value"), F.max("value")
    ).first()
    lo, hi = obs[0], obs[1]
    for r in rows:
        if r.is_interp:
            assert lo - 1e-6 <= r.filled <= hi + 1e-6


def test_bpe_merge_step_counts_match_manual(spark, sf_dir):
    """Recompute pair counts in plain Python on the collected corpus and
    compare the top-20 exactly (deterministic tie-break)."""
    import re as _re
    from collections import Counter

    docs = load_table(spark, "documents", sf_dir).select("text").collect()
    c = Counter()
    for row in docs:
        for w in _re.split(r"[^a-z]+", row.text.lower()):
            for i in range(len(w) - 1):
                c[w[i : i + 2]] += 1
    expected = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(r.pair, r.n) for r in registry.QUERIES["bpe_merge_step"](spark, sf_dir).collect()]
    assert got == expected


def test_impute_group_median_fills_all_masked(spark, sf_dir):
    """Every masked row is filled with its group median; unmasked rows
    carry their original value bit-for-bit."""
    df = registry.QUERIES["impute_group_median"](spark, sf_dir)
    ev = load_table(spark, "events", sf_dir)
    orig = {r.event_id: r.value for r in ev.select("event_id", "value").collect()}
    meds = {}
    rows = df.collect()
    for r in rows:
        assert r.filled is not None
        if r.was_imputed:
            meds.setdefault(r.event_type, set()).add(r.filled)
        else:
            assert r.filled == orig[r.event_id]
    # one distinct fill value per group — the group median
    for et, vals in meds.items():
        assert len(vals) == 1, (et, vals)


def test_vocab_coverage_monotone(spark, sf_dir):
    """Coverage is monotone in top_n, bounded by (0, 1], and
    total_tokens is constant across thresholds."""
    rows = sorted(
        registry.QUERIES["vocab_coverage"](spark, sf_dir).collect(),
        key=lambda r: r.top_n,
    )
    assert [r.top_n for r in rows] == [100, 500, 1000, 5000]
    totals = {r.total_tokens for r in rows}
    assert len(totals) == 1
    last = 0.0
    for r in rows:
        assert 0.0 < r.coverage <= 1.0
        assert r.coverage >= last
        assert r.covered_tokens <= r.total_tokens
        last = r.coverage


def test_bigram_lm_probs_valid_distribution_fragment(spark, sf_dir):
    """Each smoothed probability is in (0, 1); counts positive; the
    top-30 cut is sorted by (n desc, gram) determinism."""
    rows = registry.QUERIES["bigram_lm_probs"](spark, sf_dir).collect()
    assert len(rows) == 30
    for r in rows:
        assert r.n >= 1
        assert 0.0 < r.p_smooth < 1.0


def test_dp_noisy_counts_bounded_noise(spark, sf_dir):
    """|noisy - true| <= 1/epsilon for every group, and the raw count
    column is NOT exposed in the release."""
    df = registry.QUERIES["dp_noisy_counts"](spark, sf_dir)
    assert "n" not in df.columns
    truth = {
        r.event_type: r.cnt
        for r in load_table(spark, "events", sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for r in df.collect():
        assert abs(r.n_noisy - truth[r.event_type]) <= 1.0 + 1e-9


def test_aqp_estimates_within_sampling_error(spark, sf_dir):
    """Estimates sit within 4 sigma of the Bernoulli sampling error
    (rel sigma = sqrt((1-p)/(p*n))) — holds at ANY sf, unlike the
    query's fixed 5% band, which is a product contract meant for the
    sf0.01+ group sizes the driver checks. Estimates are exact
    multiples of the inverse sampling rate."""
    import math

    p = 0.1
    for r in registry.QUERIES["aqp_sampled_agg"](spark, sf_dir).collect():
        bound = 4 * math.sqrt((1 - p) / (p * r.n_exact))
        assert abs(r.n_est - r.n_exact) <= bound * r.n_exact, (r, bound)
        assert abs(r.sum_est - r.sum_exact) <= 2 * bound * r.sum_exact, (r, bound)
        assert r.n_est % 10 == 0


def test_erasure_removes_all_subject_rows(spark, sf_dir):
    """No retained row belongs to a deletion subject; kept + erased
    partitions the table exactly."""
    ev = load_table(spark, "events", sf_dir)
    total = ev.count()
    rows = registry.QUERIES["right_to_erasure_apply"](spark, sf_dir).collect()
    assert sum(r.n_kept + r.n_erased for r in rows) == total
    subjects = {
        r.user_id for r in ev.filter(F.col("user_id") % 53 == 7).select("user_id").distinct().collect()
    }
    if subjects:
        assert sum(r.n_erased for r in rows) > 0


def test_pseudonymize_preserves_joinability(spark, sf_dir):
    """Same user -> same token (groupBy cardinality preserved); raw
    user_id absent from the output schema."""
    df = registry.QUERIES["pseudonymize_keys"](spark, sf_dir)
    assert "user_id" not in df.columns
    ev = load_table(spark, "events", sf_dir)
    n_users = ev.select("user_id").distinct().count()
    n_tokens = df.select("user_token").distinct().count()
    assert n_tokens == n_users


def test_asof_forward_semantics(spark):
    """Forward as-of: earliest right at-or-after each left ts; inclusive
    tie; null when nothing follows."""
    from structured_streaming_cassandra_sink_spark.operators.timeseries import asof_join_forward

    left = spark.createDataFrame(
        [("a", 5, 1), ("a", 10, 2), ("a", 20, 3), ("b", 1, 4)],
        ["k", "ts", "row_id"],
    )
    right = spark.createDataFrame(
        [("a", 6, 60), ("a", 10, 100), ("a", 15, 150)],
        ["k", "ts", "price"],
    )
    got = {
        r.row_id: r.price
        for r in asof_join_forward(left, right, "k", "ts", "ts", ["price"]).collect()
    }
    #   row 1 (a,5):  earliest right >=5 is (a,6)->60
    #   row 2 (a,10): tie -> inclusive -> 100
    #   row 3 (a,20): nothing after -> null
    #   row 4 (b,1):  no right for key -> null
    assert got == {1: 60, 2: 100, 3: None, 4: None}


def test_acf_bounds_and_lag_domain(spark, sf_dir):
    from structured_streaming_cassandra_sink_spark.plans import registry

    registry.load_all()
    rows = registry.QUERIES["acf_lags"](spark, sf_dir).collect()
    from structured_streaming_cassandra_sink_spark.operators.timeseries import ACF_MAX_LAG

    assert [r["lag"] for r in rows] == list(range(1, ACF_MAX_LAG + 1))
    assert all(-1.0 - 1e-9 <= r["acf"] <= 1.0 + 1e-9 for r in rows)


def test_seasonal_decompose_identity_and_edges(spark, sf_dir):
    from structured_streaming_cassandra_sink_spark.plans import registry

    registry.load_all()
    rows = registry.QUERIES["seasonal_decompose"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        # additive identity on the quantized grid: x = trend+seasonal+resid
        assert abs(r["x"] - (r["trend"] + r["seasonal"] + r["resid"])) < 2e-4
    # edge days (first/last 3) have no full centered window -> excluded
    import pyspark.sql.functions as F

    days = sorted(r["day_ts"] for r in rows)
    all_days = sorted(
        d["d"]
        for d in spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(F.date_trunc("day", "ts").alias("d"))
        .distinct()
        .collect()
    )
    assert days[0] > all_days[0] and days[-1] < all_days[-1]
    assert len(days) == len(all_days) - 6


def test_engine_facade_roundtrip(spark, sf_dir):
    """Engine(): session + catalog + registry behind one object — the
    SURVEY §3.4 lifecycle. sql()/table()/query()/explain() all dispatch
    into existing machinery, so this pins wiring, not semantics."""
    from structured_streaming_cassandra_sink_spark.engine import Engine

    eng = Engine(sf_dir=sf_dir, spark=spark)
    assert eng.sql("SELECT count(*) AS n FROM orders").collect()[0]["n"] > 0
    assert eng.table("nation").count() == 25
    assert "roc_auc" in eng.queries()
    assert eng.query("groupby_agg").count() > 0
    assert eng.oracle("groupby_agg") and "SELECT" in eng.oracle("groupby_agg").upper()
    assert eng.oracle("multimodal_decode") is None  # rows-only stays rows-only
    plan = eng.explain("join_inner_broadcast")
    assert "BroadcastHashJoin" in plan


def test_skyline_pareto_matches_bruteforce(spark, sf_dir):
    """Every emitted point is undominated and every non-emitted point is
    dominated by at least one emitted point (the frontier property)."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    sky = [(r.p_retailprice, r.p_size) for r in QUERIES["skyline_pareto"](spark, sf_dir).collect()]
    allp = [
        (r.p_retailprice, r.p_size)
        for r in spark.read.parquet(f"{sf_dir}/part.parquet")
        .select("p_retailprice", "p_size")
        .collect()
    ]

    def dominated(a, by):
        return (
            by[0] <= a[0] and by[1] >= a[1] and (by[0] < a[0] or by[1] > a[1])
        )

    assert sky
    for a in sky:
        assert not any(dominated(a, b) for b in allp), a
    skyset = set(sky)
    for a in allp:
        if a not in skyset:
            assert any(dominated(a, b) for b in sky), a


def test_engine_query_with_metrics_single_pass(spark, sf_dir):
    """Observation metrics ride the same action: row count and a null
    counter arrive without re-executing the plan."""
    import pyspark.sql.functions as F
    from structured_streaming_cassandra_sink_spark.engine import Engine

    eng = Engine(sf_dir=sf_dir, spark=spark)
    rows, m = eng.query_with_metrics(
        "groupby_agg",
        {
            "n_rows": F.count(F.lit(1)),
            "null_flags": F.sum(F.col("l_returnflag").isNull().cast("long")),
        },
    )
    assert m["n_rows"] == len(rows) and len(rows) > 0
    assert m["null_flags"] == 0


def test_new_operators_handle_degenerate_inputs(spark, tmp_path):
    """Empty tables, single-doc corpora, and empty-text docs flow through
    the session's new operators without error."""
    import os

    from structured_streaming_cassandra_sink_spark.operators.clustering import (
        dbscan_grid_clusters,
    )
    from structured_streaming_cassandra_sink_spark.operators.dedup import (
        simhash,
        tfidf_cosine_pairs,
    )
    from structured_streaming_cassandra_sink_spark.operators.windows import (
        skyline_pareto,
    )

    docs = spark.createDataFrame([(1, ""), (2, "a b c")], "doc_id long, text string")
    assert simhash(docs).count() == 2  # md5('') token still sketches

    d1 = str(tmp_path / "one")
    spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    ).write.parquet(os.path.join(d1, "documents.parquet"))
    assert tfidf_cosine_pairs(spark, d1).count() == 0  # no pair, no error

    d2 = str(tmp_path / "sky")
    spark.createDataFrame(
        [], "p_partkey long, p_retailprice double, p_size int"
    ).write.parquet(os.path.join(d2, "part.parquet"))
    assert skyline_pareto(spark, d2).count() == 0  # empty offsets map is fine

    d3 = str(tmp_path / "db")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.parquet(os.path.join(d3, "embeddings.parquet"))
    assert dbscan_grid_clusters(spark, d3).count() == 0


def test_proration_sums_exactly_to_order_total(spark, sf_dir):
    """The whole point of largest-remainder allocation: per-order cent
    sums equal round(o_totalprice*100) EXACTLY, and every allocation is
    within 1 cent of its unrounded proportional share."""
    from structured_streaming_cassandra_sink_spark.operators.relational import (
        proration_largest_remainder,
    )

    alloc = proration_largest_remainder(spark, sf_dir)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("t_cents"),
    )
    per_order = alloc.groupBy("l_orderkey").agg(
        F.sum("alloc_cents").alias("got")
    )
    bad = per_order.join(o, "l_orderkey").filter(F.col("got") != F.col("t_cents"))
    assert bad.count() == 0
    assert per_order.count() > 0


def test_max_concurrency_matches_python_sweep(spark, sf_dir):
    """Independent ground truth: a plain-Python sweep over the same
    clipped intervals reproduces every per-day peak."""
    from collections import defaultdict
    from datetime import timedelta

    from structured_streaming_cassandra_sink_spark.operators.timeseries import (
        CONC_WINDOW_MIN,
        max_concurrency_sweep,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet").select("ts").collect()
    deltas = defaultdict(lambda: defaultdict(int))
    for r in events:
        day = r.ts.replace(hour=0, minute=0, second=0, microsecond=0)
        end = min(r.ts + timedelta(minutes=CONC_WINDOW_MIN), day + timedelta(days=1))
        deltas[day.date()][r.ts] += 1
        deltas[day.date()][end] -= 1
    expect = {}
    for day, dd in deltas.items():
        cur = peak = 0
        for t in sorted(dd):
            cur += dd[t]
            peak = max(peak, cur)
        expect[day] = peak
    got = {
        r.day: r.peak_concurrency
        for r in max_concurrency_sweep(spark, sf_dir).collect()
    }
    assert got == expect


def test_t_closeness_matches_python_emd(spark, sf_dir):
    """Independent ground truth: per-class 1-D EMD computed in plain
    Python over the same band lattice reproduces every class row."""
    import math
    from collections import Counter, defaultdict

    from structured_streaming_cassandra_sink_spark.operators.curation import (
        ACB_BAND,
        T_CLOSE,
        t_closeness_check,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_nationkey", "c_mktsegment", "c_acctbal")
        .collect()
    )
    by_cls = defaultdict(Counter)
    glob = Counter()
    for r in rows:
        b = math.floor(r.c_acctbal / ACB_BAND)
        by_cls[(r.c_nationkey, r.c_mktsegment)][b] += 1
        glob[b] += 1
    # contiguous lattice min..max, matching the query (empty interior
    # bands still carry their |CDF-gap| term)
    bands = list(range(min(glob), max(glob) + 1))
    nn = sum(glob.values())
    expect = {}
    for cls, cnt in by_cls.items():
        nc = sum(cnt.values())
        gap = running = 0.0
        for b in bands:
            gap += cnt.get(b, 0) * 1.0 / nc - glob.get(b, 0) * 1.0 / nn
            running += abs(gap)
        expect[cls] = round(running, 6)
    got = {
        (r.c_nationkey, r.c_mktsegment): (r.emd, r.t_violation)
        for r in t_closeness_check(spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for cls, (emd, viol) in got.items():
        assert emd == pytest.approx(expect[cls], abs=2e-6)
        assert viol == (emd > T_CLOSE)


def test_multi_touch_credit_conserves_conversions(spark, sf_dir):
    """Linear MTA conservation law: summed credit across all channels
    and days equals the number of conversions that had at least one
    in-window touch (each conversion hands out exactly 1.0)."""
    from datetime import timedelta

    from structured_streaming_cassandra_sink_spark.operators.timeseries import (
        MTA_WINDOW_DAYS,
        multi_touch_attribution,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "ts", "event_type")
        .collect()
    )
    touches = [(r.user_id, r.ts) for r in rows if r.event_type in ("view", "click")]
    attributed = sum(
        1
        for r in rows
        if r.event_type == "purchase"
        and any(
            u == r.user_id and r.ts - timedelta(days=MTA_WINDOW_DAYS) <= t < r.ts
            for u, t in touches
        )
    )
    out = multi_touch_attribution(spark, sf_dir).collect()
    total_credit = sum(r.credit for r in out)
    # each (channel, day) cell is rounded at 1e-4; tolerance = cells * 5e-5
    assert total_credit == pytest.approx(attributed, abs=max(1e-3, len(out) * 5e-5))
    assert attributed > 0


def test_t_closeness_counts_empty_interior_bands(spark, tmp_path):
    """Regression pin for the emd_drift dropped-bin bug class: global
    mass only at bands 0 and 10 (bands 1-9 empty table-wide) — the
    persistent CDF gap must accumulate across ALL interior bands, not
    just the two observed ones."""
    from structured_streaming_cassandra_sink_spark.operators.curation import (
        ACB_BAND,
        t_closeness_check,
    )

    # class A: all mass in band 0; class B: all mass in band 10;
    # global: 50/50. |p_cls - p_gl| cumulates to 0.5 per band edge ->
    # EMD = 0.5 * 10 bands = 5.0 for each class.
    rows = []
    for i in range(8):
        rows.append((i, f"Customer#{i:09d}", 0, 100.0, "A"))          # band 0
        rows.append((100 + i, f"Customer#{100+i:09d}", 1, 10 * ACB_BAND + 100.0, "B"))
    df = spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    got = {
        (r.c_nationkey, r.c_mktsegment): r.emd
        for r in t_closeness_check(spark, str(tmp_path)).collect()
    }
    assert got == {(0, "A"): 5.0, (1, "B"): 5.0}


def test_interval_union_matches_python_merge(spark, sf_dir):
    """Independent ground truth: classic sort-and-merge interval union
    in plain Python reproduces every user's island count and coverage."""
    from collections import defaultdict

    from structured_streaming_cassandra_sink_spark.operators.timeseries import (
        CONC_WINDOW_MIN,
        interval_union_time,
    )

    win_us = CONC_WINDOW_MIN * 60 * 1_000_000
    rows = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("s")
    ).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append((r.s, r.s + win_us))
    expect = {}
    for u, ivs in by_user.items():
        ivs.sort()
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        expect[u] = (len(merged), sum(e - s for s, e in merged) // 1_000_000)
    got = {
        r.user_id: (r.n_islands, r.covered_sec)
        for r in interval_union_time(spark, sf_dir).collect()
    }
    assert got == expect


def test_stickiness_invariants_and_python_truth(spark, sf_dir):
    """WAU >= DAU always; stickiness in (0, 1]; and a plain-Python
    trailing-window recomputation reproduces every day's row."""
    from collections import defaultdict
    from datetime import timedelta

    from structured_streaming_cassandra_sink_spark.operators.timeseries import (
        WAU_DAYS,
        dau_wau_stickiness,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
        .collect()
    )
    by_day = defaultdict(set)
    for r in rows:
        by_day[r.day].add(r.user_id)
    days = sorted(by_day)
    expect = {}
    for d in days:
        wau = set()
        for k in range(WAU_DAYS):
            wau |= by_day.get(d - timedelta(days=k), set())
        expect[d] = (len(by_day[d]), len(wau))
    got = dau_wau_stickiness(spark, sf_dir).collect()
    assert {r.day for r in got} == set(days)
    for r in got:
        assert (r.dau, r.wau) == expect[r.day]
        assert 0 < r.stickiness <= 1.0
        assert r.wau >= r.dau


def test_session_operators_handle_degenerate_inputs(spark, tmp_path):
    """Empty/single-row inputs flow through the session's operators with
    the mathematically right degenerate outputs (no errors, no phantom
    rows)."""
    import datetime
    import os

    from structured_streaming_cassandra_sink_spark.operators.curation import (
        t_closeness_check,
    )
    from structured_streaming_cassandra_sink_spark.operators.dedup import (
        record_linkage_fs,
    )
    from structured_streaming_cassandra_sink_spark.operators.geo import (
        geo_knn_within_radius,
        geo_radius_join,
    )
    from structured_streaming_cassandra_sink_spark.operators.relational import (
        proration_largest_remainder,
    )
    from structured_streaming_cassandra_sink_spark.operators.timeseries import (
        CONC_WINDOW_MIN,
        dau_wau_stickiness,
        interval_union_time,
        max_concurrency_sweep,
        multi_touch_attribution,
    )

    # empty suppliers + one customer: radius join and kNN emit nothing
    d = str(tmp_path / "geo")
    spark.createDataFrame(
        [], "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
    ).write.parquet(os.path.join(d, "supplier.parquet"))
    spark.createDataFrame(
        [(1, "Customer#000000001", 0, 10.0, "A")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    ).write.parquet(os.path.join(d, "customer.parquet"))
    assert geo_radius_join(spark, d).count() == 0
    assert geo_knn_within_radius(spark, d).count() == 0
    # single customer: no linkage pairs; single class == global: EMD 0
    assert record_linkage_fs(spark, d).count() == 0
    tc = t_closeness_check(spark, d).collect()
    assert len(tc) == 1 and tc[0].emd == 0.0 and not tc[0].t_violation

    # one order with one lineitem: the whole total lands on that line
    d2 = str(tmp_path / "pro")
    spark.createDataFrame(
        [(7, 1, 123.456)], "l_orderkey long, l_linenumber int, l_extendedprice double"
    ).write.parquet(os.path.join(d2, "lineitem.parquet"))
    spark.createDataFrame(
        [(7, 999.994)], "o_orderkey long, o_totalprice double"
    ).write.parquet(os.path.join(d2, "orders.parquet"))
    got = proration_largest_remainder(spark, d2).collect()
    assert [(r.l_orderkey, r.l_linenumber, r.alloc_cents) for r in got] == [(7, 1, 99999)]

    # events: empty -> no concurrency rows; single event -> one island,
    # full window coverage, dau == wau, stickiness 1.0, no MTA rows
    d3 = str(tmp_path / "ev")
    ts = datetime.datetime(2024, 1, 5, 12, 0, 0)
    spark.createDataFrame(
        [(1, ts, 42, "purchase", 1.0, None)],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(os.path.join(d3, "events.parquet"))
    assert max_concurrency_sweep(spark, d3).collect()[0].peak_concurrency == 1
    iu = interval_union_time(spark, d3).collect()[0]
    assert (iu.n_islands, iu.covered_sec) == (1, CONC_WINDOW_MIN * 60)
    st = dau_wau_stickiness(spark, d3).collect()[0]
    assert (st.dau, st.wau, st.stickiness) == (1, 1, 1.0)
    assert multi_touch_attribution(spark, d3).count() == 0  # no touches

    d4 = str(tmp_path / "empty_ev")
    spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(os.path.join(d4, "events.parquet"))
    assert max_concurrency_sweep(spark, d4).count() == 0
    assert interval_union_time(spark, d4).count() == 0
    assert dau_wau_stickiness(spark, d4).count() == 0


def test_interval_union_equals_session_window_aggregate(spark, sf_dir):
    """Cross-operator consistency: with the same 15-minute gap, per-user
    interval union IS the aggregate of Spark's session_window sessions —
    islands == sessions, covered time == sum of session spans. Two
    independent implementations (running-max islands vs the engine's
    native session assignment) must agree row for row."""
    from structured_streaming_cassandra_sink_spark.operators.timeseries import (
        CONC_WINDOW_MIN,
        interval_union_time,
    )
    from structured_streaming_cassandra_sink_spark.streaming.batch_equiv import (
        SESSION_GAP_MIN,
        session_agg,
    )
    from structured_streaming_cassandra_sink_spark.sources import load_table

    assert CONC_WINDOW_MIN == SESSION_GAP_MIN  # precondition for the pin
    sess = session_agg(load_table(spark, "events", sf_dir))
    via_sessions = {
        (r.user_id): (r.n_islands, r.covered_sec)
        for r in sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_islands"),
            F.expr(
                "sum(unix_micros(cast(session_end as timestamp))"
                " - unix_micros(cast(session_start as timestamp))) div 1000000"
            )
            .cast("bigint")
            .alias("covered_sec"),
        )
        .collect()
    }
    via_union = {
        r.user_id: (r.n_islands, r.covered_sec)
        for r in interval_union_time(spark, sf_dir).collect()
    }
    assert via_union == via_sessions


def test_hits_normalization_and_bipartite_support(spark, sf_dir):
    """Max-normalized HITS: scores in (0, 1], exactly one hub and one
    auth at 1.0-after-rounding, and every scored node appears in the
    incidence list side it belongs to."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["graph_hits_bipartite"](spark, sf_dir).collect()
    hubs = [r for r in rows if r["kind"] == "hub"]
    auths = [r for r in rows if r["kind"] == "auth"]
    assert hubs and auths
    for r in rows:
        assert 0.0 < r["score"] <= 1.0
    assert max(r["score"] for r in hubs) == 1.0
    assert max(r["score"] for r in auths) == 1.0


def test_sssp_exact_on_synthetic_path_graph(spark, tmp_path):
    """Two-edge path graph with known weights: seed 398 → part 1 →
    part 2, support 2 per edge, so dist must be exactly k·1/ln(3)
    (quantized at 1e-6 per edge, summed hop-by-hop)."""
    import math
    import pyspark.sql.functions as F

    from structured_streaming_cassandra_sink_spark.operators.relational import graph_sssp_weighted

    rows = []
    for ok, parts in [(10, (398, 1)), (11, (398, 1)), (12, (1, 2)), (13, (1, 2))]:
        for p in parts:
            rows.append((ok, p))
    spark.createDataFrame(rows, "l_orderkey bigint, l_partkey bigint").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "lineitem.parquet"))
    got = {r["node"]: r["dist"] for r in graph_sssp_weighted(spark, str(tmp_path)).collect()}
    w = round(1.0 / math.log(3), 6)
    assert got[398] == 0.0
    assert abs(got[1] - w) < 1e-9
    assert abs(got[2] - 2 * w) < 1e-9


def test_sssp_distances_bounded_and_seeds_zero(spark, sf_dir):
    """Seeds sit at distance 0; every distance is ≥ 0 and ≤ hops·max
    edge weight (support≥2 → w ≤ 1/ln(3))."""
    import math

    from structured_streaming_cassandra_sink_spark.operators.relational import (
        SSSP_HOPS,
        SSSP_SEED_MOD,
    )
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["graph_sssp_weighted"](spark, sf_dir).collect()
    assert rows
    wmax = 1.0 / math.log(3)
    for r in rows:
        assert 0.0 <= r["dist"] <= SSSP_HOPS * wmax + 1e-9
        if r["node"] % SSSP_SEED_MOD == 0:
            assert r["dist"] == 0.0


def test_epoch_shuffle_properties(spark, sf_dir):
    """Each epoch is a complete permutation: every doc appears exactly
    once per epoch, positions are contiguous 1..n within each shard,
    and consecutive epochs order docs differently (decorrelation)."""
    from structured_streaming_cassandra_sink_spark.operators.curation import N_EPOCHS
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["epoch_shuffle_assign"](spark, sf_dir).collect()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append(r)
    assert set(by_epoch) == set(range(N_EPOCHS))
    n_docs = len(by_epoch[0])
    orders = {}
    for ep, rs in by_epoch.items():
        assert len(rs) == n_docs
        assert len({r["doc_id"] for r in rs}) == n_docs
        shard_pos = {}
        for r in rs:
            shard_pos.setdefault(r["shard"], []).append(r["position"])
        for shard, ps in shard_pos.items():
            assert sorted(ps) == list(range(1, len(ps) + 1)), (ep, shard)
        orders[ep] = [
            r["doc_id"] for r in sorted(rs, key=lambda r: (r["shard"], r["position"]))
        ]
    # pairwise-distinct across ALL epochs (a chained != only checks
    # adjacent pairs and would pass with orders[0] == orders[2])
    assert len({tuple(orders[ep]) for ep in orders}) == len(orders)


def test_jsd_bounds_symmetry_and_self_zero(spark, sf_dir, tmp_path):
    """JSD in [0, ln2]; identical sources (same text corpus twice)
    score exactly 0."""
    import math

    from structured_streaming_cassandra_sink_spark.operators.text import js_divergence_sources
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["js_divergence_sources"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["jsd"] <= math.log(2.0) + 1e-9
    # two sources with the identical word distribution → jsd == 0
    docs = [(1, "alpha beta beta gamma", "en", "sA", 21),
            (2, "alpha beta beta gamma", "en", "sB", 21)]
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    r = js_divergence_sources(spark, str(tmp_path)).collect()
    assert len(r) == 1 and r[0]["jsd"] == 0.0 and r[0]["n_common_words"] == 3


def test_holt_reduces_to_ewma_when_beta_irrelevant_and_tracks_level(spark, sf_dir):
    """Holt invariants: rn is contiguous per type, trend stays bounded
    by the largest single-step level change, and forecast_next ==
    level + trend exactly (on the 1e-4 grid)."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["holt_linear_smooth"](spark, sf_dir).collect()
    assert rows
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r["rn"])
        assert [r["rn"] for r in rs] == list(range(1, len(rs) + 1))
        assert rs[0]["level"] == rs[0]["y"] and rs[0]["trend"] == 0.0
        max_step = max(
            (abs(b["level"] - a["level"]) for a, b in zip(rs, rs[1:])), default=0.0
        )
        for r in rs:
            assert abs(r["forecast_next"] - round(r["level"] + r["trend"], 4)) < 1e-9
            assert abs(r["trend"]) <= max_step + 1e-6


def test_rfm_scores_quintile_balanced_and_composed(spark, sf_dir):
    """Each score is 1-5, the segment code decomposes exactly, and
    every quintile bucket is reasonably populated (boundary comparison
    against exact percentiles cannot empty a bucket)."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["rfm_segmentation"](spark, sf_dir).collect()
    assert rows
    from collections import Counter

    for dim in ("r_score", "f_score", "m_score"):
        c = Counter(r[dim] for r in rows)
        assert set(c) <= {1, 2, 3, 4, 5}
    for r in rows:
        assert r["segment"] == r["r_score"] * 100 + r["f_score"] * 10 + r["m_score"]
    m = Counter(r["m_score"] for r in rows)
    # monetary is continuous → quintiles must be near-balanced
    n = len(rows)
    for k in (1, 2, 3, 4, 5):
        assert 0.1 * n < m[k] < 0.3 * n, (k, m[k], n)


def test_running_balance_matches_sequential_clamp(spark, sf_dir):
    """The prefix-min identity equals the literal sequential recurrence
    bal = max(0, bal + delta), replayed in Python per user."""
    from collections import defaultdict

    import pyspark.sql.functions as F

    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES
    from structured_streaming_cassandra_sink_spark.sources import load_table

    got = {
        (r["user_id"], r["event_id"]): r["balance"]
        for r in QUERIES["running_balance_floor"](spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, "events", sf_dir)
        .select("user_id", "ts", "event_id", "event_type", F.round("value", 4).alias("v"))
        .collect()
    )
    series = defaultdict(list)
    for r in ev:
        series[r["user_id"]].append(r)
    for uid, rs in series.items():
        rs.sort(key=lambda r: (r["ts"], r["event_id"]))
        bal = 0.0
        for r in rs:
            d = r["v"] if r["event_type"] in ("purchase", "click") else -r["v"]
            bal = max(0.0, bal + d)
            assert abs(got[(uid, r["event_id"])] - round(bal, 4)) < 1e-6, (
                uid,
                r["event_id"],
            )


def _python_peel(edges, rounds):
    """{node: degree} left by `rounds` synchronous peel rounds of a
    symmetric directed edge set, then the final degree >= KCORE_K filter
    — the oracle's edge-list peel, in Python."""
    from collections import Counter

    from structured_streaming_cassandra_sink_spark.operators.relational import KCORE_K

    e = set(edges)
    for _ in range(rounds):
        deg = Counter(s for s, _ in e)
        keep = {n for n, k in deg.items() if k >= KCORE_K}
        e = {(s, d) for s, d in e if s in keep and d in keep}
    deg = Counter(s for s, _ in e)
    return {n: k for n, k in deg.items() if k >= KCORE_K}


def _python_fixpoint_peel(edges):
    """The KCORE_K-core of a symmetric edge set: peel until a round
    removes nothing."""
    e, prev = set(edges), None
    while e != prev:
        prev = e
        core = _python_peel(e, 0)
        e = {(s, d) for s, d in e if s in core and d in core}
    return _python_peel(e, 0)


def _undirected(pairs):
    return pairs + [(b, a) for a, b in pairs]


def test_kcore_membership_closed_and_converged(spark, sf_dir):
    """Every surviving node has >= K neighbors INSIDE the core (core
    closure), and the query returns exactly the maximal core with its
    degrees: a Python peel of the same edges to its fixpoint (the fixed
    round budget reaches the fixpoint at test scale)."""
    from collections import defaultdict

    from structured_streaming_cassandra_sink_spark.operators.relational import (
        KCORE_K,
        _copurchase_edges,
    )
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    got = {r["node"]: r["degree_in_core"] for r in QUERIES["graph_kcore"](spark, sf_dir).collect()}
    assert got, "2-core must be non-empty at test scale"
    edges = [(r["s"], r["d"]) for r in _copurchase_edges(spark, sf_dir).collect()]
    nbrs = defaultdict(set)
    for s, d in edges:
        nbrs[s].add(d)
    for n in got:
        assert len(nbrs[n] & got.keys()) >= KCORE_K, n
    assert got == _python_fixpoint_peel(edges)


_TAIL = _undirected([(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5)])
# Longer than the round budget: the peel stops mid-cascade, so the result
# is the fixed-round answer, not the core.
_LONG_TAIL = _undirected([(0, 1), (1, 2), (2, 0)] + [(i, i + 1) for i in range(2, 9)])
_BRIDGE = _undirected([(0, 1), (1, 2), (2, 0), (2, 6), (6, 7), (7, 3), (3, 4), (4, 5), (5, 3)])
_HUB = _undirected([(0, 1), (1, 2), (2, 3), (3, 0)] + [(0, 100 + i) for i in range(10_000)])


@pytest.mark.parametrize(
    "edges",
    [_TAIL, _LONG_TAIL, _BRIDGE, _HUB],
    ids=[
        "triangle_with_tail",
        "triangle_with_tail_past_round_budget",
        "triangles_joined_by_path",
        "four_cycle_hub_10k_leaves",
    ],
)
def test_kcore_peel_matches_python_peel(spark, edges):
    """The message-passing peel equals the synchronous edge-list peel of
    KCORE_ROUNDS rounds, node set and degree_in_core: a tail that
    cascades one node per round (and one that outlasts the rounds), two
    triangles whose joining path survives, and a hub whose single row
    holds 10,002 messages."""
    from structured_streaming_cassandra_sink_spark.operators.relational import (
        KCORE_ROUNDS,
        _kcore_peel,
    )

    msgs = spark.createDataFrame(edges, "s long, d long")
    got = {r["node"]: r["degree_in_core"] for r in _kcore_peel(msgs).collect()}
    want = _python_peel(edges, KCORE_ROUNDS)
    assert want, "every graph keeps a non-empty core"
    assert got == want


def test_assortativity_in_range(spark, sf_dir):
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    r = QUERIES["graph_assortativity"](spark, sf_dir).collect()[0]
    assert -1.0 <= r["assortativity"] <= 1.0
    assert r["n_directed_edges"] > 0 and r["n_directed_edges"] % 2 == 0


def test_conformal_coverage_near_target(spark, sf_dir):
    """The conformal guarantee: coverage >= 1 - alpha - slack on
    exchangeable data (slack loose at tiny n_test); q_hat is an actual
    observed residual (discrete order statistic, not interpolated)."""
    from structured_streaming_cassandra_sink_spark.operators.timeseries import CONF_ALPHA
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["conformal_forecast_interval"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_cal"] > 0 and r["n_test"] > 0
        assert 0.0 <= r["coverage"] <= 1.0
        # finite-sample slack: 1 binomial sd below target
        import math

        slack = math.sqrt(CONF_ALPHA * (1 - CONF_ALPHA) / r["n_test"])
        assert r["coverage"] >= 1 - CONF_ALPHA - 2 * slack - 1e-9, r


def test_var_cvar_ordering(spark, sf_dir):
    """CVaR >= VaR always (the tail mean is at least the cutoff), and
    both are reported as positive losses when the tail is negative."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["var_cvar_report"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["cvar_95"] >= r["var_95"] - 1e-9, r


def test_late_data_audit_bands_and_jitter_bound(spark, sf_dir):
    """Bounded-jitter arrival: every lateness is < the jitter bound
    (high-water can't outrun an event by more than the max jitter),
    fractions sum to 1, and at least two bands are occupied (the audit
    is non-vacuous)."""
    from structured_streaming_cassandra_sink_spark.operators.timeseries import LATE_JITTER_US
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["late_data_audit"](spark, sf_dir).collect()
    assert len(rows) >= 2
    assert abs(sum(r["frac"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r["max_late_s"] <= LATE_JITTER_US / 1_000_000


def test_ltv_curve_monotone_and_conserves_revenue(spark, sf_dir):
    """cum_revenue is nondecreasing within each cohort, ltv_per_user =
    cum/users on the unit grid, and summing day_revenue over everything
    equals total purchase revenue."""
    import pyspark.sql.functions as F

    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES
    from structured_streaming_cassandra_sink_spark.sources import load_table

    rows = QUERIES["cohort_ltv_curve"](spark, sf_dir).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_day"], []).append(r)
    for rs in by_cohort.values():
        rs.sort(key=lambda r: r["day_since"])
        assert rs[0]["day_since"] == 0
        for a, b in zip(rs, rs[1:]):
            assert b["cum_revenue"] >= a["cum_revenue"] - 1e-9
        assert abs(rs[-1]["cum_revenue"] - sum(x["day_revenue"] for x in rs)) < 1e-2
    total = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_type") == "purchase")
        .agg(F.sum("value"))
        .collect()[0][0]
    ) or 0.0
    got = sum(r["day_revenue"] for r in rows)
    assert abs(got - total) < max(1.0, 1e-4 * abs(total))


def test_span_corruption_reconstructs_original(spark, sf_dir):
    """Replacing the sentinel in input_text with the target span (minus
    its sentinel prefix) reconstructs the original document exactly —
    the losslessness property of the masking objective."""
    from structured_streaming_cassandra_sink_spark.operators.curation import SENTINEL, SPAN_LEN
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES
    from structured_streaming_cassandra_sink_spark.sources import load_table

    orig = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, "documents", sf_dir).select("doc_id", "text").collect()
    }
    rows = QUERIES["span_corruption_mask"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        span = r["target_text"][len(SENTINEL) + 1 :]
        assert len(span.split(" ")) == SPAN_LEN
        rebuilt = r["input_text"].replace(SENTINEL, span, 1)
        assert rebuilt == orig[r["doc_id"]], r["doc_id"]
        assert SENTINEL in r["input_text"]


def test_kruskal_wallis_bounds_and_all_tied_nation_excluded(spark, sf_dir):
    """H >= 0 and epsilon^2 <= 1 on real data; a nation whose balances
    are ALL identical (tie correction denominator hits zero) is gated
    out instead of emitting NaN/inf; perfect segment separation on a
    synthetic twin yields a large positive H."""
    import os
    import tempfile

    from structured_streaming_cassandra_sink_spark.operators.mleval import kruskal_wallis
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    for r in QUERIES["kruskal_wallis"](spark, sf_dir).collect():
        assert r["h_stat"] >= 0.0
        assert r["epsilon_sq"] <= 1.0

    d = tempfile.mkdtemp()
    rows = (
        # nation 1: all balances tied -> excluded
        [(1, "AUTO", 5.0)] * 4
        + [(1, "BLDG", 5.0)] * 4
        # nation 2: disjoint value ranges per segment -> strong H
        + [(2, "AUTO", float(v)) for v in range(1, 6)]
        + [(2, "BLDG", float(v)) for v in range(10, 15)]
    )
    spark.createDataFrame(
        rows, "c_nationkey int, c_mktsegment string, c_acctbal double"
    ).write.mode("overwrite").parquet(os.path.join(d, "customer.parquet"))
    out = {r["nationkey"]: r for r in kruskal_wallis(spark, d).collect()}
    assert 1 not in out
    assert out[2]["h_stat"] > 5.0


def test_levene_zero_for_identical_groups(spark, sf_dir):
    """W == 0 when every group has the same spread around its median;
    real-data W >= 0 with correct dfs."""
    import os
    import tempfile

    from structured_streaming_cassandra_sink_spark.operators.mleval import (
        levene_brown_forsythe,
    )
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    r = QUERIES["levene_brown_forsythe"](spark, sf_dir).collect()[0]
    assert r["w_stat"] >= 0.0
    assert r["df1"] == r["n_groups"] - 1
    assert r["df2"] == r["n_rows"] - r["n_groups"]

    d = tempfile.mkdtemp()
    rows = [(t, v) for t in ("a", "b", "c") for v in (1.0, 2.0, 3.0)]
    spark.createDataFrame(rows, "event_type string, value double").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "events.parquet"))
    r0 = levene_brown_forsythe(spark, d).collect()[0]
    assert abs(r0["w_stat"]) < 1e-9


def test_collocation_g2_nonnegative_and_supported(spark, sf_dir):
    """G^2 is a likelihood ratio: >= 0 for every emitted pair, and every
    pair clears the support floor."""
    from structured_streaming_cassandra_sink_spark.operators.text import G2_MIN_COUNT
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["collocation_g2"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["g2"] >= 0.0
        assert r["c_xy"] >= G2_MIN_COUNT


def test_subquery_double_exists_semantics_on_known_case(spark):
    """Hand-built orders: supplier 1 is sole-at-fault in order 10
    (multi-supplier, only s1 returned), NOT counted for order 20
    (co-supplier also returned), order 30 (single-supplier), or
    order 40 (non-finalized)."""
    import os
    import tempfile

    from structured_streaming_cassandra_sink_spark.operators.relational import (
        subquery_double_exists,
    )

    d = tempfile.mkdtemp()
    li = [
        (10, 1, "R"), (10, 2, "N"),
        (20, 1, "R"), (20, 2, "R"),
        (30, 1, "R"),
        (40, 1, "R"), (40, 2, "N"),
    ]
    spark.createDataFrame(
        li, "l_orderkey bigint, l_suppkey bigint, l_returnflag string"
    ).write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
    spark.createDataFrame(
        [(10, "F"), (20, "F"), (30, "F"), (40, "O")],
        "o_orderkey bigint, o_orderstatus string",
    ).write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
    spark.createDataFrame(
        [(1, "s1"), (2, "s2")], "s_suppkey bigint, s_name string"
    ).write.mode("overwrite").parquet(os.path.join(d, "supplier.parquet"))
    out = {r["suppkey"]: r["sole_fault_orders"] for r in subquery_double_exists(spark, d).collect()}
    assert out == {1: 1}


def test_join_asof_nearest_tie_prefers_backward(spark):
    """An event exactly midway between two hour starts takes the EARLIER
    hour's rate; an event on an hour boundary has delta 0."""
    import datetime as dt
    import os
    import tempfile

    from structured_streaming_cassandra_sink_spark.operators.timeseries import (
        join_asof_nearest,
    )

    d = tempfile.mkdtemp()
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # hour 10 bucket: one event ON the boundary (value 2.0)
        (1, t0, 100, "view", 2.0, None),
        # midway event: 10:30:00 exactly -> 1800 s to both hour starts
        (2, t0 + dt.timedelta(minutes=30), 100, "view", 4.0, None),
        # hour 11 bucket exists so the midway event HAS a forward rate
        (3, t0 + dt.timedelta(hours=1), 100, "view", 8.0, None),
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {r["event_id"]: r for r in join_asof_nearest(spark, d).collect()}
    # hour-10 avg = (2+4)/2 = 3.0, hour-11 avg = 8.0
    assert out[1]["nearest_rate"] == 3.0 and out[1]["delta_sec"] == 0
    assert out[2]["nearest_rate"] == 3.0 and out[2]["delta_sec"] == 1800
    assert out[3]["nearest_rate"] == 8.0 and out[3]["delta_sec"] == 0


def test_time_decay_attribution_credits_normalize_and_decay(spark, sf_dir):
    """Per-purchase credits sum to 1 (where any click is in window) and
    decrease with lag within a purchase."""
    from collections import defaultdict

    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["time_decay_attribution"](spark, sf_dir).collect()
    assert rows
    by_p = defaultdict(list)
    for r in rows:
        by_p[r["purchase_id"]].append((r["lag_sec"], r["credit"]))
    for p, cs in by_p.items():
        assert abs(sum(c for _, c in cs) - 1.0) < 1e-4, p
        cs.sort()
        credits = [c for _, c in cs]
        assert credits == sorted(credits, reverse=True), p


def test_sax_encode_constant_series_and_word_length(spark, sf_dir):
    """Constant series (std = 0) -> all-'c' word; real-data words are
    exactly SAX_SEGMENTS letters from the 4-letter alphabet."""
    import datetime as dt
    import os
    import tempfile

    from structured_streaming_cassandra_sink_spark.operators.timeseries import (
        SAX_SEGMENTS,
        sax_encode,
    )
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    for r in QUERIES["sax_encode"](spark, sf_dir).limit(50).collect():
        assert len(r["sax_word"]) == SAX_SEGMENTS
        assert set(r["sax_word"]) <= set("abcd")

    d = tempfile.mkdtemp()
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 7, "view", 5.0, None) for i in range(10)
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = sax_encode(spark, d).collect()
    assert len(out) == 1
    assert out[0]["sax_word"] == "c" * SAX_SEGMENTS


def test_knn_classify_eval_bounds_and_perfect_clusters(spark, sf_dir):
    """Accuracy in [0,1] with consistent counts on real data; on a
    synthetic corpus with axis-aligned label clusters the classifier is
    perfect."""
    import os
    import tempfile

    from structured_streaming_cassandra_sink_spark.operators.similarity import (
        knn_classify_eval,
    )
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    for r in QUERIES["knn_classify_eval"](spark, sf_dir).collect():
        assert 0.0 <= r["accuracy"] <= 1.0
        assert r["n_correct"] <= r["n_test"]

    d = tempfile.mkdtemp()
    # 3 labels on 3 orthogonal axes — any k-NN vote is unanimous
    rows = []
    for i in range(60):
        lab = i % 3
        vec = [0.0, 0.0, 0.0]
        vec[lab] = 1.0 + (i % 7) * 0.01
        rows.append((i, vec, lab))
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    out = knn_classify_eval(spark, d).collect()
    assert out and all(r["accuracy"] == 1.0 for r in out)


def test_heaps_law_fit_bounds_and_degenerate_growth(spark, sf_dir):
    """Real corpora grow sub-linearly (0 < beta <= ~1); an all-unique
    vocabulary grows exactly linearly (beta == 1, perfect fit) and a
    closed vocabulary stops growing (beta ~ 0)."""
    import os
    import tempfile

    from structured_streaming_cassandra_sink_spark.operators.text import heaps_law_fit
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    # the synthetic word-soup corpus has a tiny CLOSED vocabulary, so
    # real-data beta legitimately sits at ~0 (saturated growth)
    for r in QUERIES["heaps_law_fit"](spark, sf_dir).collect():
        assert 0.0 <= r["beta"] <= 1.05, r
        assert r["n_points"] >= 2

    d = tempfile.mkdtemp()
    rows = []
    # source "uniq": every token globally new -> V(N) = N
    for i in range(600):
        rows.append((i, " ".join(f"u{i}_{j}" for j in range(5)), "en", "uniq", 1))
    # source "closed": same 5 tokens forever -> V flat after bucket 0
    for i in range(600):
        rows.append((1000 + i, "a b c d e", "en", "closed", 1))
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = {r["source"]: r for r in heaps_law_fit(spark, d).collect()}
    assert abs(out["uniq"]["beta"] - 1.0) < 1e-6
    assert abs(out["uniq"]["r2"] - 1.0) < 1e-6
    assert out["closed"]["beta"] < 0.05


def test_heaps_law_fit_pure_ieee_replay(spark, sf_dir):
    """Cross-engine contract pin (r5 driver-FAIL postmortem): the OLS is
    quantized-int64 moments + one shared double expression, so a pure-
    Python IEEE replay over the same lattice must reproduce Spark's
    beta/ln_k/r2 BIT-exactly — any engine float kernel sneaking back into
    the plan breaks this immediately. r9: ln is the shared-series
    expansion (exactagg.ln_shared_py is the op-for-op twin of the SQL
    text), so the replay now covers the FULL pipeline — there is no
    libm call left on either side."""
    import math

    import duckdb

    from structured_streaming_cassandra_sink_spark.functions.exactagg import ln_shared_py
    from structured_streaming_cassandra_sink_spark.operators.text import HEAPS_BUCKET
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    lattice = duckdb.sql(
        f"""
        WITH toks AS (
          SELECT source, doc_id // {HEAPS_BUCKET} AS bucket,
                 string_split(text, ' ') AS tk
          FROM '{sf_dir}/documents.parquet'),
        nt AS (SELECT source, bucket, sum(len(tk)) AS n_tok
               FROM toks GROUP BY 1, 2),
        nv AS (SELECT source, first_bucket AS bucket, count(*) AS n_new
               FROM (SELECT source, w, min(bucket) AS first_bucket
                     FROM (SELECT source, bucket, unnest(tk) AS w FROM toks)
                     GROUP BY 1, 2) GROUP BY 1, 2)
        SELECT nt.source,
               sum(nt.n_tok) OVER (PARTITION BY nt.source ORDER BY nt.bucket
                 ROWS UNBOUNDED PRECEDING) AS big_n,
               sum(COALESCE(nv.n_new, 0)) OVER (PARTITION BY nt.source
                 ORDER BY nt.bucket ROWS UNBOUNDED PRECEDING) AS v
        FROM nt LEFT JOIN nv USING (source, bucket)
        """
    ).fetchall()
    moments = {}
    for src, big_n, v in lattice:
        if not (v > 0 and big_n > 0):
            continue
        xq = int(math.floor(ln_shared_py(int(big_n)) * 1e6 + 0.5))
        yq = int(math.floor(ln_shared_py(int(v)) * 1e6 + 0.5))
        m = moments.setdefault(src, [0, 0, 0, 0, 0, 0, None, None])
        m[0] += 1
        m[1] += xq
        m[2] += yq
        m[3] += xq * xq
        m[4] += xq * yq
        m[5] += yq * yq
        m[6] = v if m[6] is None else min(m[6], v)
        m[7] = v if m[7] is None else max(m[7], v)
    expect = {}
    for src, (n, sx, sy, sxx, sxy, syy, vmin, vmax) in moments.items():
        sn, dx, dy, dxx, dxy, dyy = map(float, (n, sx, sy, sxx, sxy, syy))
        cov = sn * dxy - dx * dy
        varx = sn * dxx - dx * dx
        vary = sn * dyy - dy * dy
        beta = (
            None if varx == 0.0
            else math.floor(cov / varx * 1e6 + 0.5) / 1e6
        )
        ln_k = (
            None if varx == 0.0
            else math.floor((dy - cov / varx * dx) / sn / 1e6 * 1e4 + 0.5) / 1e4
        )
        r2 = (
            None
            if (vmax * 100 < vmin * 101 or varx == 0.0 or vary == 0.0)
            else math.floor(cov * cov / (varx * vary) * 1e6 + 0.5) / 1e6
        )
        expect[src] = (n, beta, ln_k, r2)
    got = {
        r["source"]: (r["n_points"], r["beta"], r["ln_k"], r["r2"])
        for r in QUERIES["heaps_law_fit"](spark, sf_dir).collect()
    }
    assert got == expect


def test_equi_depth_histogram_partition_invariants(spark, sf_dir):
    """Buckets are contiguous, ordered, non-overlapping, and conserve
    both row count and NDV within each priority."""
    import duckdb

    from structured_streaming_cassandra_sink_spark.operators.scalar import EQD_BUCKETS
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["equi_depth_histogram"](spark, sf_dir).collect()
    truth = {
        r[0]: (r[1], r[2])
        for r in duckdb.sql(
            f"SELECT o_orderpriority, count(*), count(DISTINCT o_totalprice)"
            f" FROM '{sf_dir}/orders.parquet' GROUP BY 1"
        ).fetchall()
    }
    by_p = {}
    for r in rows:
        by_p.setdefault(r["priority"], []).append(r)
    for p, bs in by_p.items():
        bs.sort(key=lambda r: r["bucket"])
        assert [b["bucket"] for b in bs] == list(range(EQD_BUCKETS))
        for a, b in zip(bs, bs[1:]):
            assert a["hi"] < b["lo"]  # non-overlapping, ordered
        assert sum(b["n_rows"] for b in bs) == truth[p][0]
        assert sum(b["n_distinct"] for b in bs) == truth[p][1]


def test_subquery_anti_scalar_semantics(spark, sf_dir):
    """Every reported nation's customers are above the positive-balance
    average and none has a recent order — cross-checked independently
    against DuckDB set logic."""
    import duckdb

    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["subquery_anti_scalar"](spark, sf_dir).collect()
    assert rows
    total = sum(r["numcust"] for r in rows)
    truth = duckdb.sql(
        f"""
        WITH ab AS (SELECT avg(c_acctbal) a FROM '{sf_dir}/customer.parquet'
                    WHERE c_acctbal > 0.0),
        hz AS (SELECT max(o_orderdate) - INTERVAL 14 DAY cut
               FROM '{sf_dir}/orders.parquet')
        SELECT count(*) FROM '{sf_dir}/customer.parquet' c, ab, hz
        WHERE c_acctbal > a AND c_custkey NOT IN (
          SELECT o_custkey FROM '{sf_dir}/orders.parquet'
          WHERE o_orderdate >= cut)
        """
    ).fetchall()[0][0]
    assert total == truth


def test_mann_kendall_monotone_series(spark):
    """A strictly increasing daily series gives S = n(n-1)/2 (every pair
    concordant) and a large positive z; strictly decreasing mirrors to
    -S."""
    import datetime as dt
    import os
    import tempfile

    from structured_streaming_cassandra_sink_spark.operators.timeseries import (
        mann_kendall_trend_test,
    )

    d = tempfile.mkdtemp()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for i in range(10):
        rows.append((i, t0 + dt.timedelta(days=i), 1, "up", float(i + 1), None))
        rows.append((100 + i, t0 + dt.timedelta(days=i), 1, "down", float(10 - i), None))
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {r["event_type"]: r for r in mann_kendall_trend_test(spark, d).collect()}
    assert out["up"]["s_stat"] == 45 and out["down"]["s_stat"] == -45
    assert out["up"]["z_stat"] > 3 and out["down"]["z_stat"] < -3
    assert out["up"]["z_stat"] == -out["down"]["z_stat"]


def test_pinball_loss_median_is_half_mae(spark, sf_dir):
    """At q = 0.5 the pinball loss is exactly MAE/2 — cross-checked
    against a direct computation; all losses are non-negative."""
    import duckdb

    from structured_streaming_cassandra_sink_spark.operators.timeseries import (
        SNAIVE_LAG_DAYS,
    )
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["pinball_loss_eval"](spark, sf_dir).collect()
    assert rows and all(r["pinball"] >= 0 for r in rows)
    mae = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"""
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     round(sum(value),4) AS y
              FROM '{sf_dir}/events.parquet' GROUP BY 1,2),
            fc AS (SELECT event_type, y, lag(y, {SNAIVE_LAG_DAYS}) OVER
                     (PARTITION BY event_type ORDER BY day) AS yhat FROM daily)
            SELECT event_type, avg(abs(y - yhat)) FROM fc
            WHERE yhat IS NOT NULL GROUP BY 1
            """
        ).fetchall()
    }
    for r in rows:
        if r["q"] == 0.5:
            assert abs(r["pinball"] - mae[r["event_type"]] / 2) < 1e-3


def test_arrow_map_surface_matches_jvm_expressions(spark, sf_dir):
    """The Arrow-side counts agree exactly with the Catalyst expression
    equivalents on the same rows."""
    import pyspark.sql.functions as F

    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES
    from structured_streaming_cassandra_sink_spark.sources import load_table

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_chars"], r["n_nonspace"])
        for r in QUERIES["arrow_map_surface"](spark, sf_dir).collect()
    }
    want = {
        r["doc_id"]: (r["t"], r["c"], r["n"])
        for r in load_table(spark, "documents", sf_dir)
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("t"),
            F.length("text").cast("long").alias("c"),
            F.length(F.regexp_replace("text", " ", "")).cast("long").alias("n"),
        )
        .collect()
    }
    assert got == want


def test_survival_c_index_bounds_and_perfect_ordering(spark, sf_dir):
    """C in [0,1] with pair-count consistency on real data; on a
    synthetic cohort where first-hour activity perfectly predicts
    conversion speed, C == 1."""
    import datetime as dt
    import os
    import tempfile

    from structured_streaming_cassandra_sink_spark.operators.timeseries import (
        survival_c_index,
    )
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    r = QUERIES["survival_c_index"](spark, sf_dir).collect()[0]
    assert 0.0 <= r["c_index"] <= 1.0
    assert r["n_concordant"] + r["n_tied"] <= r["n_pairs"]

    d = tempfile.mkdtemp()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    # user u converts after (5 - k) hours and has k+1 first-hour events:
    # more active users convert strictly faster
    for u, k in enumerate(range(4)):
        for j in range(k + 1):
            rows.append((eid, t0 + dt.timedelta(minutes=j), u, "view", 1.0, None))
            eid += 1
        rows.append(
            (eid, t0 + dt.timedelta(hours=5 - k), u, "purchase", 1.0, None)
        )
        eid += 1
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = survival_c_index(spark, d).collect()[0]
    assert out["c_index"] == 1.0 and out["n_tied"] == 0


def test_ips_offpolicy_identities(spark, sf_dir):
    """With uniform 50/50 logging: v_snips equals the matched-subset
    conversion rate, and v_ips == 2 * match_conversion_mass / n."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    r = QUERIES["ips_offpolicy_eval"](spark, sf_dir).collect()[0]
    assert 0 < r["n_matched"] < r["n_users"]
    assert 0.0 <= r["v_logged"] <= 1.0
    # v_ips = (1/n) * sum_matched r/0.5 = 2 * (snips * n_matched) / n
    implied = 2 * r["v_snips"] * r["n_matched"] / r["n_users"]
    assert abs(r["v_ips"] - implied) < 1e-4


def test_layout_rle_report_layout_tradeoff(spark, sf_dir):
    """Clustering by (priority, date) must give priority its best
    possible compression (runs == number of row groups) and strictly
    beat the custkey layout on that column; run counts are consistent
    (1 <= n_runs <= n_rows/avg implied)."""
    import duckdb

    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = {(r["layout"], r["col"]): r for r in QUERIES["layout_rle_report"](spark, sf_dir).collect()}
    n_groups_a = duckdb.sql(
        f"SELECT count(DISTINCT (o_orderpriority, month(o_orderdate)))"
        f" FROM '{sf_dir}/orders.parquet'"
    ).fetchall()[0][0]
    # sorting BY priority makes each (pri, month) group one run
    assert rows[("pri_date", "o_orderpriority")]["n_runs"] == n_groups_a
    assert (
        rows[("pri_date", "o_orderpriority")]["n_runs"]
        < rows[("custkey", "o_orderpriority")]["n_runs"]
    )
    for r in rows.values():
        assert r["n_runs"] >= 1 and r["avg_run_len"] >= 1.0


def test_exactagg_helpers_cross_engine_seeded_fuzz(spark):
    """Three-way bit-equality fuzz for functions/exactagg.py: Spark
    running ``F.expr(sql)``, DuckDB running the same ``sql`` and a
    pure-Python replay of the same IEEE ops must agree on every group,
    across the quantization scales the converted queries use (q=100
    money, q=10^4 products, q=10^6 rates) and output precisions 2/4/6.

    Inputs, each drawn to land on a divergence boundary often:
    - seed 7: large 2dp money values, binary-inexact 2dp x 2dp products,
      small rates near the 1e-6 quantization midpoint;
    - seed 42: values on the 1e-4 grid, raw uniform doubles, and values
      half-way between 1e-6 grid points;
    - the three modes the sf0.1 sweep found in the hourly rates: (a) a
      dense group where float-sum order tips round(avg) by 1 ulp,
      (b) values whose shortest decimal string is x.5 but whose binary
      value is below it (Spark round() rounds the string HALF_UP,
      DuckDB the binary double), and (c) quantized averages landing
      exactly on .00005."""
    import math

    import duckdb
    import numpy as np
    import pandas as pd

    from structured_streaming_cassandra_sink_spark.functions.exactagg import (
        avg_exact_sql,
        sum_exact_sql,
    )

    rows = []
    rng = np.random.default_rng(7)
    for g in range(120):
        n = int(rng.integers(1, 80))
        if g % 3 == 0:  # 2dp money values, large magnitude
            vals = rng.integers(1, 60_000_000, n) / 100.0
        elif g % 3 == 1:  # products of 2dp x 2dp (4dp-ish, binary-inexact)
            vals = (rng.integers(1, 10_000_000, n) / 100.0) * (
                1 - rng.integers(0, 11, n) / 100.0
            )
        else:  # small rates near quantization midpoints
            vals = (rng.integers(-5_000_000, 5_000_000, n) + 0.5) / 1_000_000.0
        rows += [(g, float(v)) for v in vals]
    rng = np.random.default_rng(42)
    for g in range(1000, 1300):
        n = int(rng.integers(1, 60))
        if g % 3 == 0:  # 1e-4-grid money-like values: boundary-dense
            vals = rng.integers(-5_000_000, 5_000_000, n) / 10_000.0
        elif g % 3 == 1:  # raw uniform doubles
            vals = rng.uniform(-500.0, 500.0, n)
        else:  # values engineered near the .5 quantization midpoint
            vals = (rng.integers(-5_000_000, 5_000_000, n) + 0.5) / 1_000_000.0
        rows += [(g, float(v)) for v in vals]
    # (a) a dense group of awkward floats
    rows += [(-1, 0.1 * i + 1 / 3) for i in range(1, 400)]
    # (b) doubles printing as x.5 at the 1e-6 grid but binary-below
    rows += [(-2, 0.1 + 0.2), (-2, 2.675), (-2, 47.2537499999999994)]
    # (c) a group of 4 averaging exactly to a .00005 boundary
    rows += [(-3, 47.2537), (-3, 47.2538), (-3, 47.2537), (-3, 47.2538)]
    pdf = pd.DataFrame(rows, columns=["k", "value"])

    CASES = [("sum", 100, 4), ("sum", 10_000, 2), ("avg", 1_000_000, 6),
             ("avg", 100, 4), ("avg", 1_000_000, 4)]

    def ref(vals, kind, q, d):
        s = sum(math.floor(v * q + 0.5) for v in vals)
        x = s / q if kind == "sum" else s / (len(vals) * q)
        return math.floor(x * 10.0**d + 0.5) / 10.0**d

    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("t", pdf)
    for kind, q, d in CASES:
        sql = (sum_exact_sql if kind == "sum" else avg_exact_sql)("value", q, d)
        got_s = {
            r.k: r.v
            for r in sdf.groupBy("k").agg(F.expr(sql).alias("v")).collect()
        }
        got_d = dict(con.sql(f"SELECT k, {sql} AS v FROM t GROUP BY k").fetchall())
        expect = pdf.groupby("k")["value"].apply(
            lambda s: ref(list(s), kind, q, d)
        ).to_dict()
        bad = [k for k in expect if not (got_s[k] == got_d[k] == expect[k])]
        assert not bad, (kind, q, d, bad[:3],
                         [(got_s[k], got_d[k], expect[k]) for k in bad[:3]])


def test_exact_aggregates_plan_has_no_decimal(spark, sf_dir):
    """Spark SQL types a plain literal such as ``100.0`` (qlong_sql,
    sum_exact_sql) as DECIMAL. Against the DOUBLE columns these queries
    read, the analyzer casts it to DOUBLE and the optimizer folds the
    cast, so no Decimal type may survive in the optimized plan: a
    surviving one means the shared text now runs Decimal arithmetic:
    slower, and outside the pure-IEEE argument that makes both engines
    bit-equal."""

    def has_decimal(df) -> bool:
        plan = df._jdf.queryExecution().optimizedPlan().toJSON()
        return '"decimal(' in plan

    # control: the probe sees an integral operand keeping the DECIMAL
    assert has_decimal(spark.range(3).selectExpr("id * 100.0 AS x"))
    # every query that runs sum_exact_sql / avg_exact_sql / qlong_sql
    # through F.expr
    queries = [
        "groupby_agg", "grouping_sets", "join_skew_salted", "cube_agg",
        "rollup_agg", "conditional_agg", "cusum_changepoint", "join_asof",
        "gap_fill", "join_asof_forward", "join_asof_nearest",
    ]
    bad = [q for q in queries if has_decimal(registry.QUERIES[q](spark, sf_dir))]
    assert not bad, bad


def test_ln_shared_three_way_bit_equality(spark):
    """r9 libm retirement (r8 verdict #4): the staged shared-series ln
    (ln_k_sql/ln_m_sql columns + ln_from_km_sql polynomial) must agree
    BIT-exactly across Spark, DuckDB and the pure-Python twin
    ln_shared_py on adversarial int64 inputs (powers of two, their
    neighbors, primes, the full magnitude range up to 2^63-1), and stay
    within 1e-13 relative of true ln — grid-exactness is the contract,
    accuracy the sanity floor."""
    import math
    import random

    import duckdb

    from structured_streaming_cassandra_sink_spark.functions.exactagg import (
        ln_from_km_sql,
        ln_k_sql,
        ln_m_sql,
        ln_shared_py,
    )

    rng = random.Random(11)
    ns = sorted(
        {1, 2, 3, 1000, 999983, 2**53 - 1, 2**53 + 1, 2**62, 2**63 - 1}
        | {2**i for i in range(1, 63)}
        | {2**i - 1 for i in range(2, 63)}
        | {2**i + 1 for i in range(1, 62)}
        | {rng.randrange(1, 2**63) for _ in range(300)}
    )
    for bad in (0, -1):
        with pytest.raises(ValueError):
            ln_shared_py(bad)
    expect = {n: ln_shared_py(n) for n in ns}
    for n, v in expect.items():
        if n > 1:
            assert abs(v - math.log(n)) / math.log(n) < 1e-13, n

    fin = ln_from_km_sql("kx", "mx")
    got_d = dict(
        duckdb.connect()
        .execute(
            f"SELECT n, {fin} AS lns FROM ("
            f"  SELECT n, {ln_k_sql('n')} AS kx, {ln_m_sql('n')} AS mx"
            f"  FROM (SELECT unnest(?) AS n))",
            [ns],
        )
        .fetchall()
    )
    assert got_d == expect

    sdf = spark.createDataFrame([(n,) for n in ns], "n long")
    got_s = {
        r.n: r.lns
        for r in sdf.selectExpr(
            "n", f"{ln_k_sql('n')} AS kx", f"{ln_m_sql('n')} AS mx"
        )
        .selectExpr("n", f"{fin} AS lns")
        .collect()
    }
    assert got_s == expect


def test_hilo_sum_adversarial_three_way_fuzz(spark):
    """Bit-equality fuzz for the r7 hi/lo carrier (hilo_sum_sql) in the
    regime the r6 DECIMAL(38,0)/HUGEINT carriers could NOT guarantee:
    per-row int64 products up to 2^62, mixed signs,
    group sums far past 2^53 (so the final int->double conversions are
    correctly-rounded, not exact). Spark, DuckDB and a pure-Python
    replay of the exact recombination (exact int halves -> float() —
    Python float(int) is the same correctly-rounded conversion -> exact
    power-of-two multiply -> one IEEE add) must agree to the BIT."""
    import random

    import duckdb

    from structured_streaming_cassandra_sink_spark.functions.exactagg import (
        HILO_SHIFT,
        hilo_sum_sql,
    )

    rnd = random.Random(11)
    vals = [rnd.randint(-(2**61), 2**61) for _ in range(4000)]
    vals += [0, 1, -1, 2**62, -(2**62), 2**62 - 1, -(2**62) + 1]
    expr = hilo_sum_sql("p")

    his = los = 0
    for p in vals:
        lo = p % HILO_SHIFT if p >= 0 else -((-p) % HILO_SHIFT)  # truncated %
        his += (p - lo) // HILO_SHIFT
        los += lo
    ref = float(his) * float(HILO_SHIFT) + float(los)

    got_s = (
        spark.createDataFrame([(v,) for v in vals], "p long")
        .selectExpr(f"{expr} AS s")
        .collect()[0][0]
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(p BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    got_d = con.execute(f"SELECT {expr} FROM t").fetchone()[0]

    assert got_s.hex() == got_d.hex() == ref.hex()
    # and the carrier is EXACT here: the true integer sum fits a double
    # only after rounding — both halves stayed inside int64
    assert abs(his) < 2**63 and abs(los) < 2**63


def test_anomaly_rolling_z_flag_matches_exact_rational(spark, sf_dir):
    """The r7 integer-exact anomaly predicate
        (vq*nn - s1)^2 * (nn-1) > 9 * nn * (nn*s2 - s1^2)
    must be ALGEBRAICALLY the |z| > 3 decision, not merely the same
    text on both engines (shared text proves engine agreement, not
    correctness of the cross-multiplication). Recompute the decision
    per row with exact rational arithmetic (Fraction) from the same
    frame moments and compare — and pin the emitted zscore against a
    pure-Python IEEE replay of the shared double expression."""
    import math
    from fractions import Fraction

    from structured_streaming_cassandra_sink_spark.operators.windows import (
        ROLL_MIN_OBS,
        ROLL_N,
        anomaly_rolling_z,
    )
    from structured_streaming_cassandra_sink_spark.sources import load_table

    got = {
        r.event_id: (r.zscore, r.is_anomaly)
        for r in anomaly_rolling_z(spark, sf_dir).collect()
    }
    rows = (
        load_table(spark, "events", sf_dir)
        .select("event_id", "event_type", "ts", "value")
        .collect()
    )
    by_type: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.ts, r.event_id)):
        by_type.setdefault(r.event_type, []).append(r)
    n_scored = n_anom = 0
    for evs in by_type.values():
        vqs = [math.floor(r.value * 100.0 + 0.5) for r in evs]
        for i, r in enumerate(evs):
            frame = vqs[max(0, i - ROLL_N) : i]
            nn, s1, s2 = len(frame), sum(frame), sum(v * v for v in frame)
            varn = nn * s2 - s1 * s1
            ok = nn >= ROLL_MIN_OBS and varn > 0
            z_got, flag_got = got[r.event_id]
            if not ok:
                assert z_got is None and flag_got is False, r.event_id
                continue
            # exact rational |z| > 3 decision: z = (vq - s1/nn) / sd,
            # sd^2 = varn / (nn*(nn-1))
            z2 = Fraction(vqs[i] * nn - s1, nn) ** 2 / Fraction(
                varn, nn * (nn - 1)
            )
            assert flag_got == (z2 > 9), (r.event_id, float(z2), flag_got)
            # IEEE replay of the shared double expression
            sd = math.sqrt(varn / (nn * (nn - 1.0)))
            z = (float(vqs[i]) - s1 / nn) / sd
            assert z_got == math.floor(z * 1e4 + 0.5) / 1e4, r.event_id
            n_scored += 1
            n_anom += flag_got
    assert n_scored > 100 and 0 < n_anom < n_scored


def test_column_corr_pure_ieee_replay(spark, sf_dir):
    """Bit-exact pure-Python replay of the r7 column_corr contract:
    exact integer moments (arbitrary-precision in Python == the
    engines' in-budget int64/hi-lo sums) converted through float()
    (the same correctly-rounded conversion as CAST AS DOUBLE), then
    the shared double expression op-for-op. Any engine deviating from
    this replay deviates from IEEE — the r5 FAIL class cannot exist."""
    import math

    from structured_streaming_cassandra_sink_spark.operators.scalar import column_corr
    from structured_streaming_cassandra_sink_spark.sources import load_table

    got = {r.l_returnflag: r for r in column_corr(spark, sf_dir).collect()}
    rows = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
    ).collect()
    groups: dict[str, list] = {}
    for r in rows:
        groups.setdefault(r.l_returnflag, []).append(r)
    assert set(groups) == set(got)
    fgrid = lambda x, d: math.floor(x * 10.0**d + 0.5) / 10.0**d  # noqa: E731
    for flag, rs in groups.items():
        xq = [math.floor(r.l_quantity * 100.0 + 0.5) for r in rs]
        yq = [math.floor(r.l_extendedprice * 100.0 + 0.5) for r in rs]
        dq = [math.floor(r.l_discount * 100.0 + 0.5) for r in rs]
        # hi/lo carrier replay: halves stay int64-exact, recombination
        # is float()*2^30 + float() — identical to the engines' text
        def hilo(ps):
            his = sum((p - (p % (1 << 30) if p >= 0 else -((-p) % (1 << 30)))) // (1 << 30) for p in ps)
            los = sum(p % (1 << 30) if p >= 0 else -((-p) % (1 << 30)) for p in ps)
            return float(his) * float(1 << 30) + float(los)

        sn, sx, sy, sd = float(len(rs)), float(sum(xq)), float(sum(yq)), float(sum(dq))
        sxx = hilo([a * a for a in xq])
        syy = hilo([b * b for b in yq])
        sxy = hilo([a * b for a, b in zip(xq, yq)])
        sxd = hilo([a * c for a, c in zip(xq, dq)])
        varx, vary = sn * sxx - sx * sx, sn * syy - sy * sy
        cov, covd = sn * sxy - sx * sy, sn * sxd - sx * sd
        g = got[flag]
        if sn > 1.0 and varx > 0.0 and vary > 0.0:
            assert g.corr_qty_price == fgrid(cov / math.sqrt(varx * vary), 6), flag
        else:
            assert g.corr_qty_price is None
        assert g.covar_qty_disc == fgrid(covd / (sn * (sn - 1.0)) / 1e4, 6), flag
        expect_sd = 0.0 if vary <= 0.0 else fgrid(
            math.sqrt(vary / (sn * (sn - 1.0))) / 1e2, 4
        )
        assert g.sd_price == expect_sd, flag
        assert g.avg_price == fgrid(sy / (sn * 1e2), 4), flag


def test_pairs_from_baskets_giant_basket_guard(spark):
    """The r11 giant-basket guard: pair expansion is a two-level explode
    whose largest in-flight value is the O(k) basket array (never the
    one-shot k(k-1)/2-struct pair array) — the pair multiset must match
    the combinatorial ground truth on mixed basket sizes, and a
    synthetic 10k-item basket (~5*10^7 pairs as ONE array value in the
    unguarded form) must complete through the guarded plan."""
    import pyspark.sql.functions as F

    from structured_streaming_cassandra_sink_spark.operators.relational import (
        _order_baskets,
        _pairs_from_baskets,
    )

    rows = [(o, p) for o, ps in enumerate([[1, 2], [3, 4, 5, 6, 7], [8], [1, 3, 5, 7, 9, 11]])
            for p in ps]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {(r.pa, r.pb, r.n)
           for r in _pairs_from_baskets(_order_baskets(li)).collect()}
    import itertools
    expect = {}
    for ps in ([1, 2], [3, 4, 5, 6, 7], [1, 3, 5, 7, 9, 11]):
        for a, b in itertools.combinations(sorted(ps), 2):
            expect[(a, b)] = expect.get((a, b), 0) + 1
    assert got == {(a, b, n) for (a, b), n in expect.items()}

    # 10k-item basket: must flow through the two-level branch without
    # building the quadratic array; spot-check totals, not 5*10^7 rows
    big = spark.range(1).select(
        F.lit(1).alias("l_orderkey"),
        F.sequence(F.lit(1), F.lit(10000)).alias("ps"),
    )
    agg = _pairs_from_baskets(big.select("l_orderkey", "ps")).agg(
        F.count(F.lit(1)).alias("n_pairs"), F.sum("n").alias("total")
    ).collect()[0]
    assert agg.n_pairs == 10000 * 9999 // 2
    assert agg.total == 10000 * 9999 // 2


def test_load_table_resolves_schema_once_per_file_version(spark, sf_dir, tmp_path):
    """load_table infers a table file's schema once: a second load runs
    no Spark job, a rewritten file (new mtime and size) is resolved
    afresh, and events.ts keeps its declared timestamp type, also when
    the file stores nanoseconds (read as long under nanosAsLong)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from structured_streaming_cassandra_sink_spark.schemas import TABLES

    sc = spark.sparkContext
    for t in ("documents", "events"):
        shutil.copy(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    d = str(tmp_path)

    def jobs_of(tag, name):
        group, outer = f"t_schema_memo_{tag}", sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            df = load_table(spark, name, d)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    first, n_first = jobs_of("first", "documents")
    again, n_again = jobs_of("again", "documents")
    assert n_first >= 1  # the footer inference the memo saves
    assert n_again == 0
    assert again.schema == first.schema
    assert again.count() == first.count()

    docs = pq.read_table(tmp_path / "documents.parquet")
    docs = docs.append_column("extra", pa.array(range(docs.num_rows), pa.int64()))
    pq.write_table(docs, tmp_path / "documents.parquet")
    grown = load_table(spark, "documents", d)
    assert grown.columns[-1] == "extra"
    assert grown.agg(F.sum("extra")).first()[0] == sum(range(docs.num_rows))

    ts_type = {f.name: f.dataType for f in TABLES["events"].fields}["ts"]
    want = sorted(r.ts for r in load_table(spark, "events", d).select("ts").collect())
    ev = pq.read_table(tmp_path / "events.parquet")
    i = ev.schema.get_field_index("ts")
    ev = ev.set_column(i, "ts", ev.column(i).cast(pa.timestamp("ns")))
    pq.write_table(ev, tmp_path / "events.parquet", version="2.6")
    for tag, inferred in (("nanos_first", True), ("nanos_again", False)):
        df, n = jobs_of(tag, "events")
        assert (n >= 1) == inferred
        assert df.schema["ts"].dataType == ts_type
        assert sorted(r.ts for r in df.select("ts").collect()) == want
