"""Physical-plan assertions — the 100 TB design gate (SURVEY.md §7 M4).

Correctness says the answer is right at sf0.01; these tests pin the SHAPE
of the plan so it stays right at 1000 executors:
- dimension joins must be BroadcastHashJoin (no fact-table shuffle),
- scans must show pushed filters / pruned schemas,
- global top-k must be TakeOrderedAndProject (no global sort),
- no Python (BatchEvalPython) in relational hot paths.
"""

from __future__ import annotations

import re

import pytest

from structured_streaming_cassandra_sink_spark.engine import plan_string
from structured_streaming_cassandra_sink_spark.plans import registry

registry.load_all()


def _plan(spark, sf_dir, name: str) -> str:
    return plan_string(registry.QUERIES[name](spark, sf_dir))


def test_broadcast_join_for_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_inner_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_predicate")
    assert re.search(r"PushedFilters: \[.*GreaterThan\(l_quantity", plan)


def test_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "scan_project_cast")
    m = re.search(r"ReadSchema: (struct<[^\n]*)", plan)
    assert m, plan
    read = m.group(1)
    assert "l_extendedprice" not in read  # untouched columns not read
    assert "l_quantity" not in read


def test_topk_no_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sort_limit_topk")
    assert "TakeOrderedAndProject" in plan


def test_no_python_in_relational_paths(spark, sf_dir):
    for name in [
        "flagship_latest_event_per_user",
        "groupby_agg",
        "join_range",
        "window_frame",
        "split_explode",
    ]:
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name


def test_whole_stage_codegen_on_agg(spark, sf_dir):
    # With AQE the physical plan only finalizes on execution; run the
    # query, then assert codegen stages exist in the final adaptive plan.
    df = registry.QUERIES["groupby_agg"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "*(" in plan  # '*(n)' prefixes = whole-stage-codegen'd operators


def test_bucketed_join_elides_shuffle(spark, sf_dir, tmp_path):
    """Same-key bucketed tables join with no Exchange on either side —
    the ingest-time shuffle replaces every query-time shuffle."""
    from structured_streaming_cassandra_sink_spark.sources import load_table
    from structured_streaming_cassandra_sink_spark.sources.bucketed import bucketed_join, write_bucketed

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    o = load_table(spark, "orders", sf_dir).selectExpr(
        "o_orderkey AS l_orderkey", "o_totalprice"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(li, "t_li_bucketed", "l_orderkey", buckets=8)
        write_bucketed(o, "t_o_bucketed", "l_orderkey", buckets=8)
        joined = bucketed_join(spark, "t_li_bucketed", "t_o_bucketed", "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        # sanity: same answer as the plain join
        assert joined.count() == li.join(o, "l_orderkey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_o_bucketed")


def test_asof_join_no_range_explosion(spark, sf_dir):
    """As-of join plans as union + single window — no BroadcastNestedLoop
    or cartesian product anywhere."""
    plan = _plan(spark, sf_dir, "join_asof")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    assert "Union" in plan


def test_interval_funnel_equi_join_drives_shuffle(spark, sf_dir):
    """The funnel's time condition must be a residual on an EQUI join
    (user_id), never a nested-loop over all pairs."""
    plan = _plan(spark, sf_dir, "join_interval_funnel")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_unpivot_is_expand(spark, sf_dir):
    """Unpivot plans as map-side Expand (N output rows per input row,
    no shuffle)."""
    plan = _plan(spark, sf_dir, "unpivot_melt")
    assert "Expand" in plan
    assert "Exchange" not in plan


def test_pivot_is_single_aggregate(spark, sf_dir):
    """Pivot with an explicit values list is one aggregate — no extra
    distinct-scan job, no join."""
    plan = _plan(spark, sf_dir, "pivot_agg")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_salted_join_carries_salt_key(spark, sf_dir):
    """The salted join's shuffle key includes the salt column."""
    plan = _plan(spark, sf_dir, "join_skew_salted")
    assert "__salt" in plan


def test_ngram_counts_topk_no_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ngram_counts")
    assert "TakeOrderedAndProject" in plan


def test_quality_filter_threshold_is_broadcast(spark, sf_dir):
    """The per-language threshold table joins back by broadcast — the
    corpus side must not shuffle for the join."""
    plan = _plan(spark, sf_dir, "quality_quantile_filter")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_corpus_count_is_broadcast(spark, sf_dir):
    """The 1-row corpus count rides as BroadcastNestedLoopJoin; the df
    join is by term (either side may shuffle) but no Python anywhere."""
    plan = _plan(spark, sf_dir, "tfidf_top_terms")
    assert "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan


def test_embedding_centroid_partial_agg(spark, sf_dir):
    """Dimension-wise centroid must partial-aggregate map-side (two
    HashAggregates around the exchange) and never ship vectors to a
    single reducer (no single-partition exchange)."""
    plan = _plan(spark, sf_dir, "embedding_centroid")
    assert plan.count("HashAggregate") >= 2 or plan.count("ObjectHashAggregate") >= 2
    assert "SinglePartition" not in plan


def test_ivf_probe_prunes_cells(spark, sf_dir):
    """The IVF probe scan must carry the static cell IN-list so the
    cell-partitioned index is partition-pruned, and the probe relation
    must broadcast."""
    plan = _plan(spark, sf_dir, "sim_search_ann_ivf")
    # Spark renders the static cell list as `IN (..)` below 10 values and
    # `INSET ..` at or above (OptimizeIn) — both are partition pruning.
    assert re.search(r"PartitionFilters: \[cell#\d+ (IN \(|INSET )", plan), plan
    assert "BroadcastHashJoin" in plan


def test_lsh_probe_prunes_buckets(spark, sf_dir):
    """The LSH probe must statically prune the (t, sig)-partitioned
    index to the probed buckets. r7 mechanism: the probe enumerates
    exactly the probed bucket DIRECTORIES (direct-path read, planning
    cost O(buckets probed)) instead of listing the whole L*2^bits tree
    and filtering — so the proof is the FileIndex's path count, bounded
    by |queries| x L, far under the 2^bits x L built buckets."""
    from structured_streaming_cassandra_sink_spark.operators.similarity import (
        LSH_PLANES,
        LSH_TABLES,
        N_QUERIES,
    )

    plan = _plan(spark, sf_dir, "sim_search_ann_lsh")
    # Location renders as `InMemoryFileIndex [p1, p2, ... N entries]`
    # (or a short bracket list when few paths) — extract the count.
    m = re.search(r"InMemoryFileIndex(?:\(\d+ paths\))? \[([^\]]*)\]", plan)
    assert m, plan
    ent = re.search(r"\.\.\. (\d+) entries", m.group(1))
    n_paths = (
        int(ent.group(1)) if ent else len([p for p in m.group(1).split(",") if p.strip()])
    )
    assert 0 < n_paths <= N_QUERIES * LSH_TABLES, plan
    assert n_paths < LSH_TABLES * (1 << LSH_PLANES)
    # every listed path is a probed bucket directory, not the tree root
    assert re.search(r"corpus/(epoch=\d+/)?t=\d+/sig=\d+", m.group(1)), plan
    assert "BroadcastHashJoin" in plan


def test_contamination_eval_set_is_broadcast(spark, sf_dir):
    """The eval shingle set must broadcast: the training corpus is one
    scan, never shuffled against eval (the 100 TB decontamination shape)."""
    plan = _plan(spark, sf_dir, "contamination_check")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_source_budget_rates_are_broadcast(spark, sf_dir):
    """The per-source rate table (one row per source) must broadcast back
    onto the corpus — pass 2 is a map-side filter, not a wide shuffle."""
    plan = _plan(spark, sf_dir, "source_budget_sample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_filter_partial_agg(spark, sf_dir):
    """Bigram counts must partial-aggregate map-side before the doc_id
    exchange, and stay Python-free (Catalyst only)."""
    plan = _plan(spark, sf_dir, "repetition_filter")
    assert "partial_count" in plan or "partial" in plan.lower()
    assert "BatchEvalPython" not in plan


def test_multiway_join_broadcasts_dims(spark, sf_dir):
    """Q5 shape: every dimension (region/nation/supplier/customer) joins
    by broadcast; the fact table shuffles at most once (orders⋈lineitem).
    A plan that SortMergeJoins a dimension re-shuffles 100 TB of lineitem
    for a 25-row table."""
    plan = _plan(spark, sf_dir, "join_multiway_revenue")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert plan.count("SortMergeJoin") <= 1, plan
    # the date filter must reach the orders scan, before any join
    assert re.search(r"PushedFilters: \[.*o_orderdate", plan), plan


def test_sessionize_single_shuffle(spark, sf_dir):
    """lag + running-sum share (user_id, ts, event_id): one Exchange only
    — the second window must not re-shuffle."""
    plan = _plan(spark, sf_dir, "sessionize_assign")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_range_window_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "window_range_interval")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_bm25_topk_and_broadcast_stats(spark, sf_dir):
    """BM25: corpus stats and df table broadcast (no fact shuffle for
    them); the final cut is TakeOrderedAndProject, not a global sort."""
    plan = _plan(spark, sf_dir, "bm25_score")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_word_pmi_topk_no_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "word_pmi")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_cluster_assign_centroids_broadcast(spark, sf_dir):
    """Nearest-centroid assign: the K-row centroid table must broadcast
    against the corpus scan — a corpus shuffle here would be the 100 TB
    bottleneck."""
    plan = _plan(spark, sf_dir, "embedding_cluster_assign")
    assert "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan


def test_outlier_mad_group_stats_broadcast(spark, sf_dir):
    """Median/MAD are group-level scalars — they must broadcast back
    against the fact scan, never shuffle it."""
    plan = _plan(spark, sf_dir, "outlier_mad")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_table_profile_single_scan_expand(spark, sf_dir):
    """Multi-column distinct profile: ONE scan through an Expand — not
    one scan per column like the naive UNION ALL."""
    plan = _plan(spark, sf_dir, "table_profile")
    # one "Location:" detail block per scan in formatted explain output
    assert plan.count("Location:") == 1
    assert "Expand" in plan


def test_shipping_priority_broadcasts_customer(spark, sf_dir):
    """Q3 shape: the segment-filtered customer dim broadcasts; both date
    filters reach their scans (orders and lineitem are pre-filtered
    BEFORE any join moves them)."""
    plan = _plan(spark, sf_dir, "join_shipping_priority")
    assert "BroadcastHashJoin" in plan, plan
    assert re.search(r"PushedFilters: \[.*o_orderdate", plan), plan
    assert re.search(r"PushedFilters: \[.*l_shipdate", plan), plan
    assert re.search(r"PushedFilters: \[.*c_mktsegment", plan), plan


def test_array_ops_no_shuffle_no_python(spark, sf_dir):
    """Collection functions are pure Catalyst expressions: zero Exchange,
    zero Python eval in the plan."""
    plan = _plan(spark, sf_dir, "array_ops")
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_column_corr_single_pass(spark, sf_dir):
    """corr/covar/stddev/avg are one streaming-aggregate pass: a single
    shuffle of per-group moment partials (partial_corr merged map-side)."""
    plan = _plan(spark, sf_dir, "column_corr")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "HashAggregate" in plan, plan


def test_exists_subquery_decorrelates_to_semi_join(spark, sf_dir):
    """The correlated EXISTS must compile to a join (left semi), never a
    per-row subquery; the non-equi ship-after-order predicate rides on
    the join itself."""
    plan = _plan(spark, sf_dir, "subquery_exists")
    assert "Subquery" not in plan
    assert re.search(r"(LeftSemi|SemiJoin)", plan)


def test_correlated_scalar_decorrelates_to_agg_join(spark, sf_dir):
    """The correlated scalar avg() must decorrelate into a per-partkey
    aggregate joined back — one aggregate node keyed on l_partkey, no
    repeated-subplan execution."""
    plan = _plan(spark, sf_dir, "subquery_correlated_scalar")
    assert "Subquery" not in plan
    assert re.search(r"Keys \[1\]: \[l_partkey", plan)


def test_argminmax_is_single_aggregate(spark, sf_dir):
    """max_by/min_by must plan as one hash aggregate — no Window/Sort."""
    plan = _plan(spark, sf_dir, "argminmax_agg")
    assert "Window" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_edit_distance_band_join_is_equi(spark, sf_dir):
    """The length-band blocking must key a hash join (shuffle or
    broadcast) — a cartesian/BNL product here means the blocking
    collapsed and the O(len²) DP would run on all pairs."""
    plan = _plan(spark, sf_dir, "edit_distance_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skew_profile_totals_broadcast(spark, sf_dir):
    """The one-row global total joins back via broadcast — the per-key
    side never reshuffles for it."""
    plan = _plan(spark, sf_dir, "skew_profile")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_gaps_islands_single_shuffle(spark, sf_dir):
    """The collect_set formulation means distinct days, the anchor
    window, and the island aggregate all reuse the first user_id
    exchange — exactly ONE Exchange in the whole plan."""
    plan = _plan(spark, sf_dir, "gaps_islands")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_shuffle_hash_hint_takes_effect(spark, sf_dir):
    """The SHUFFLE_HASH hint must yield a ShuffledHashJoin — no sort of
    either join side, and no accidental broadcast of the filtered one."""
    plan = _plan(spark, sf_dir, "join_shuffle_hash_hint")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_layout_confines_rowgroup_stats(spark, tmp_path):
    """The point of the Morton key, measured: write lineitem with small
    parquet row groups in (a) z-order and (b) natural order, then count
    row groups whose [min,max] envelopes overlap a 2-D predicate box —
    exactly the skipping decision a stats-based reader makes. The
    z-ordered layout must leave most row groups prunable; the natural
    layout leaves (almost) none."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from structured_streaming_cassandra_sink_spark.operators.relational import _Z_EXPR
    from structured_streaming_cassandra_sink_spark.sources import load_table

    # sf0.01 pinned: the experiment needs enough rows for >=10 small row
    # groups; the suite's default sf is too small to subdivide.
    li = (
        load_table(spark, "lineitem", "/root/testdata/sf0.01")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .withColumn("zval", F.expr(_Z_EXPR))
    )
    pz, pn = str(tmp_path / "zsorted"), str(tmp_path / "natural")
    (
        li.repartition(1).sortWithinPartitions("zval")
        .write.option("parquet.block.size", 65536).mode("overwrite").parquet(pz)
    )
    li.repartition(1).write.option("parquet.block.size", 65536).mode(
        "overwrite"
    ).parquet(pn)

    # predicate box: a narrow slice of each dimension
    PK_LO, PK_HI, SK_LO, SK_HI = 100, 200, 10, 60

    def overlapping_fraction(path: str) -> tuple[int, int]:
        f = glob.glob(os.path.join(path, "part-*.parquet"))[0]
        md = pq.ParquetFile(f).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }
        hit = 0
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            pk = rg.column(cols["l_partkey"]).statistics
            sk = rg.column(cols["l_suppkey"]).statistics
            if pk.min <= PK_HI and pk.max >= PK_LO and sk.min <= SK_HI and sk.max >= SK_LO:
                hit += 1
        return hit, md.num_row_groups

    z_hit, z_total = overlapping_fraction(pz)
    n_hit, n_total = overlapping_fraction(pn)
    assert z_total >= 10, "row groups too coarse for the experiment"
    # natural order interleaves keys randomly: essentially every row
    # group straddles the box; z-order must prune at least half.
    assert n_hit / n_total > 0.8, (n_hit, n_total)
    assert z_hit / z_total < 0.5, (z_hit, z_total)
    # and the layouts hold identical data
    assert spark.read.parquet(pz).count() == spark.read.parquet(pn).count()


def test_scd2_single_shuffle(spark, sf_dir):
    """Both windows and the island aggregate of scd2_build reuse the one
    o_custkey Exchange — the property that keeps it a single-pass op at
    100 TB."""
    plan = _plan(spark, sf_dir, "scd2_build")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_bloom_prefilter_injected(spark, sf_dir):
    """Runtime Bloom filter: creation-side bloom_filter_agg over the
    selective orders keys, might_contain probe pushed into the lineitem
    side, and the join stays SortMergeJoin (the no-broadcast regime the
    operator models)."""
    plan = _plan(spark, sf_dir, "join_bloom_prefilter")
    low = plan.lower()
    assert "bloom_filter_agg" in low, plan
    assert "might_contain" in low, plan
    assert "SortMergeJoin" in plan, plan


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    """Dynamic partition pruning: the partitioned fact scan carries a
    dynamicpruning expression fed by the dim-side subquery — the fact
    reads only quarter-1 month directories at execution time."""
    plan = _plan(spark, sf_dir, "join_dpp_prune")
    assert "dynamicpruning" in plan.lower(), plan


def test_every_registered_query_has_driver_signature():
    """Regression guard: the driver calls every registry entry as
    fn(spark, sf_dir). A decorator landing on the wrong function (it
    happened: @query('stream_sliding') on the 1-arg shared agg) produces
    a callable the driver can't invoke — catch it by arity, without
    running anything."""
    import inspect

    from structured_streaming_cassandra_sink_spark.plans import registry

    registry.load_all()
    for name, fn in registry.QUERIES.items():
        params = [
            p
            for p in inspect.signature(fn).parameters.values()
            if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
            and p.default is p.empty
        ]
        assert len(params) == 2, (
            f"{name}: registered callable must take exactly (spark, sf_dir); "
            f"got {inspect.signature(fn)}"
        )


def test_interpolate_single_shuffle(spark, sf_dir):
    """Both IGNORE NULLS frame directions share one (user_id, ts,
    event_id) sort: exactly one Exchange in the plan."""
    plan = _plan(spark, sf_dir, "interpolate_linear")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_markov_pair_agg_is_partial(spark, sf_dir):
    """The (src, dst) count collapses map-side: HashAggregate below AND
    above its Exchange (partial + final), so the wire carries the pair
    space, not the event stream."""
    plan = _plan(spark, sf_dir, "markov_transitions")
    assert re.search(r"HashAggregate", plan), plan
    assert plan.count("HashAggregate") >= 2, plan


def test_hard_negative_broadcasts_probes(spark, sf_dir):
    """Probe side is broadcast — no corpus shuffle for the candidate
    product; ranking is the only window."""
    plan = _plan(spark, sf_dir, "hard_negative_topk")
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_vocab_coverage_partial_agg_and_broadcast_thresholds(spark, sf_dir):
    """Token counts are partial-aggregated map-side; the 4-row threshold
    table joins via broadcast."""
    plan = _plan(spark, sf_dir, "vocab_coverage")
    assert plan.count("HashAggregate") >= 2, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_weighted_percentile_single_sort_shuffle(spark, sf_dir):
    """The cumulative-weight window is the only data-sized Exchange;
    group totals come back as a broadcast."""
    plan = _plan(spark, sf_dir, "weighted_percentile")
    assert "BroadcastExchange" in plan, plan


def test_cluster_quality_centroids_broadcast(spark, sf_dir):
    """Member-to-centroid distances join against a BROADCAST centroid
    table — the data-sized side never shuffles for the join."""
    plan = _plan(spark, sf_dir, "cluster_quality_report")
    assert "BroadcastExchange" in plan, plan


def test_attribution_single_user_shuffle(spark, sf_dir):
    """The as-of kernel unions both sides then windows per user: no
    range-join explosion (no BroadcastNestedLoopJoin on the match)."""
    plan = _plan(spark, sf_dir, "last_touch_attribution")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan


def test_dq_rule_check_single_scan(spark, sf_dir):
    """All rules evaluate in one pass: the stack() unpivot must not
    re-plan the aggregate per rule (union form measured 8 scans)."""
    plan = _plan(spark, sf_dir, "dq_rule_check")
    assert plan.count("Scan parquet") <= 2, plan


def test_pit_join_no_range_explosion(spark, sf_dir):
    """SCD2 PIT join runs through the as-of window kernel — no
    BroadcastNestedLoopJoin range product."""
    plan = _plan(spark, sf_dir, "scd2_point_in_time_join")
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lateral_topn_decorrelated(spark, sf_dir):
    """The LATERAL LIMIT subquery must decorrelate to a window/join plan
    — no per-outer-row subquery execution, no cartesian product."""
    plan = _plan(spark, sf_dir, "lateral_topn")
    assert "CartesianProduct" not in plan
    assert "Window" in plan or "Join" in plan


def test_kmeans_centroids_literal_map_assign(spark, sf_dir):
    """Lloyd assignment (r10 shape): centroids ride a single 1-row
    broadcast relation (stable codegen across iterations — the r6
    literal form recompiled the fold projection every round), so the
    final assign is effectively a PURE MAP: exactly one
    BroadcastNestedLoopJoin whose build side is the 1-row centroid
    relation, and no shuffle of any kind — the corpus vector payload
    never moves (the pre-r6 broadcast-join shape needed a
    groupBy(vec_id) that shuffled every vector per iteration)."""
    plan = _plan(spark, sf_dir, "kmeans_lloyd")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                 "Exchange hashpartitioning"):
        assert node not in plan, node
    import re

    # exactly one BNLJ: the 1-row centroid ride-along, nothing else
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    # the checkpointed corpus feeds a map-only assign with no shuffle of
    # its own. The one shuffle Exchange permitted is spread()'s
    # round-robin fan-out of the corpus, if the checkpoint's lineage
    # renders it; no hash, range or single-partition exchange may appear.
    parts = re.findall(
        r"\(\d+\) Exchange\n(?:(?!\(\d+\) ).*\n)*?Arguments: (\w+)", plan
    )
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\n", plan))
    assert n_exchanges <= 1 and parts == ["RoundRobinPartitioning"] * n_exchanges, parts
    assert "least(" in plan


def test_pq_codebook_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pq_encode")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stream_enrich_dim_broadcast(spark, sf_dir):
    """The static dimension broadcasts; the event side never shuffles
    for the join (only the windowed agg exchanges partials)."""
    plan = _plan(spark, sf_dir, "stream_enrich_static")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_forward_asof_no_unbounded_following(spark, sf_dir):
    """The forward as-of kernel must stay a RUNNING frame (reversed
    sort): an UNBOUNDED FOLLOWING ignore-nulls frame re-aggregates the
    remaining frame per row — O(rows²) per key (measured 78x here)."""
    plan = _plan(spark, sf_dir, "join_asof_forward")
    assert "unboundedfollowing" not in plan.lower()


def test_interpolate_no_unbounded_following(spark, sf_dir):
    plan = _plan(spark, sf_dir, "interpolate_linear")
    assert "unboundedfollowing" not in plan.lower()


def test_theil_sen_joins_on_lattice_key(spark, sf_dir):
    """The pairwise-slope self-join keys on event_type (lattice), never
    a cartesian product over raw rows."""
    plan = _plan(spark, sf_dir, "theil_sen_trend")
    assert "CartesianProduct" not in plan


def test_countmin_explodes_lattice_not_events(spark, sf_dir):
    """Generate (the D-row explode) must sit ABOVE the per-key
    aggregation: the blow-up is |keys| x D, never |events| x D."""
    plan = _plan(spark, sf_dir, "countmin_sketch_report")
    gen = plan.find("Generate")
    assert gen != -1
    # the formatted tree prints root-first, children after — a
    # HashAggregate printed AFTER the Generate is BELOW it, i.e. the
    # explode consumes aggregated (per-key) rows, not the raw scan
    assert plan.find("HashAggregate", gen) != -1


def test_tfidf_cosine_no_cartesian(spark, sf_dir):
    """The all-pairs cosine must come from the term-keyed equi-join
    (SortMergeJoin/ShuffledHashJoin on t), never a cartesian product;
    the 1-row corpus count must ride as a broadcast."""
    plan = _plan(spark, sf_dir, "tfidf_cosine_pairs")
    assert "CartesianProduct" not in plan
    # the weight index is localCheckpoint'ed, so the final plan joins two
    # scans of the materialized index — the 1-row n_docs BNLJ ride-along
    # lives INSIDE the checkpointed computation, not here
    assert "BroadcastNestedLoopJoin" not in plan


def test_rrf_fusion_broadcasts_probe_and_stats(spark, sf_dir):
    """Both ranker sides broadcast their tiny inputs (probe vector, BM25
    stats row, query-sized df table); no SortMergeJoin against the
    corpus is needed anywhere in the fusion."""
    plan = _plan(spark, sf_dir, "rrf_fusion")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_skyline_two_pass_no_self_join(spark, sf_dir):
    """The 2D skyline must NOT contain the O(n^2) dominance self-join:
    exactly one join (points back to per-price group bounds) and every
    window is partitioned by __pid (no single-partition window)."""
    plan = _plan(spark, sf_dir, "skyline_pareto")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every Window node's argument spec must partition by __pid
    import re as _re
    args = _re.findall(r"\(\d+\) Window\n(?:.*\n)*?Arguments: (.*)", plan)
    assert args, "expected Window nodes in the skyline plan"
    for a in args:
        assert "__pid" in a, a


def test_simhash_single_shuffle_sketch(spark, sf_dir):
    """The portable simhash sketch must stay ONE groupBy off the token
    explode (64 map-side-combined sums) — no Python eval anywhere."""
    plan = _plan(spark, sf_dir, "dedup_simhash")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_heavy_hitters_python_pass_per_input_partition(spark, sf_dir):
    """heavy_hitters equals its DuckDB oracle, and its Misra-Gries pass
    reads the scan directly: no round-robin fan-out anywhere, and no
    Exchange between the FileScan and MapInPandas, so the Python stage
    runs one task per input partition (the candidate set is complete for
    any partitioning)."""
    import duckdb

    df = registry.QUERIES["heavy_hitters"](spark, sf_dir)
    got = sorted((r.gram, r.n) for r in df.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    assert got == sorted(con.execute(registry.ORACLES["heavy_hitters"]).fetchall())
    assert got

    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "RoundRobinPartitioning" not in plan, plan
    lines = plan.splitlines()
    (top,) = [i for i, s in enumerate(lines) if "MapInPandas" in s]

    def depth(s: str) -> int:
        return len(s) - len(s.lstrip(" :+-"))

    below = []
    for s in lines[top + 1:]:
        if depth(s) <= depth(lines[top]):
            break
        below.append(s.strip(" :+-"))
    assert below[-1].startswith("FileScan parquet"), plan
    assert not any("Exchange" in s or "QueryStage" in s for s in below), plan


def test_heavy_hitters_spreads_large_single_partition_corpus(spark, sf_dir, tmp_path):
    """From HH_SPREAD_ROWS documents on, a corpus that arrives as one
    input partition (one file, one row group) is fanned out round-robin
    before the Misra-Gries pass, and the rows still equal the oracle."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from structured_streaming_cassandra_sink_spark.operators.text import HH_SPREAD_ROWS

    src = pq.read_table(f"{sf_dir}/documents.parquet")
    docs = pa.concat_tables([src] * -(-HH_SPREAD_ROWS // src.num_rows))
    pq.write_table(docs, tmp_path / "documents.parquet", row_group_size=docs.num_rows)

    df = registry.QUERIES["heavy_hitters"](spark, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan, plan
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    want = sorted(con.execute(registry.ORACLES["heavy_hitters"]).fetchall())
    assert sorted((r.gram, r.n) for r in df.collect()) == want


def test_plan_guard_artifact_current_and_clean(spark, sf_dir):
    """PLAN_GUARD.json (tools/plan_guard.py sweep of EVERY registered
    query's physical plan) must cover the whole registry and record zero
    violations; a deterministic 6-query subset is re-derived live so the
    artifact can't silently go stale."""
    import hashlib
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "PLAN_GUARD.json")
    assert os.path.exists(path), "run tools/plan_guard.py --json PLAN_GUARD.json"
    data = json.load(open(path))
    assert data["violations"] == []
    missing = set(registry.QUERIES) - set(data["queries"])
    assert not missing, f"guard artifact missing {sorted(missing)[:5]}"

    sample = sorted(
        registry.QUERIES, key=lambda n: hashlib.md5(n.encode()).hexdigest()
    )[:6]
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "plan_guard.py"), *sample],
        capture_output=True,
        text=True,
        timeout=500,
        env={**os.environ, "SF_DIR": sf_dir},
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]


def test_operators_doc_covers_registry():
    """Every registered query must have an OPERATORS.md row (backticked
    name). Round-3 shipped `zonemap_prune_report` with no doc row and a
    stale PLAN_GUARD — this is the registry-vs-artifacts diff the r3
    verdict asked for, as a test so it can't recur."""
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    doc = open(os.path.join(root, "OPERATORS.md")).read()
    documented = set(re.findall(r"`([a-z0-9_]+)`", doc))
    missing = set(registry.QUERIES) - documented
    assert not missing, f"OPERATORS.md missing rows for {sorted(missing)}"


def test_approx_distinct_hll_outside_expand(spark, sf_dir):
    """approx_distinct's round-4 plan contract: the HLL aggregate and
    the exact count_distinct band-pinning run as SEPARATE aggregations
    joined broadcast. Mixed into one agg, Catalyst's distinct-Expand
    rewrite carries a 52-word HLL sketch per (flag, key, gid) group
    through the first shuffle — a sketch per DISTINCT KEY instead of
    per flag. Pin: exactly one Expand (the exact side's rewrite), a
    broadcast join, and the HLL function in a subtree with no Expand."""
    plan = _plan(spark, sf_dir, "approx_distinct")
    assert len(re.findall(r"\(\d+\) Expand", plan)) == 1
    assert "BroadcastHashJoin" in plan
    # the HLL partial agg must list approx_count_distinct without the
    # Expand rewrite's group id (gid only exists below the rewrite);
    # match it as a token, not a raw substring — an unrelated alias
    # containing 'gid' must not false-fail the pin (ADVICE r4)
    hll_nodes = [
        blk
        for blk in plan.split("\n\n")
        if "approx_count_distinct" in blk and "partial" in blk
    ]
    assert hll_nodes, "HLL partial aggregate not found"
    assert all(not re.search(r"\bgid\b", blk) for blk in hll_nodes)


def test_knn_eval_broadcast_side_constant_bounded(spark, sf_dir):
    """knn_classify_eval's round-5 plan contract (VERDICT r4 "What's
    wrong" #2): the broadcast side must be the CONSTANT-bounded eval
    set — `vec_id % MOD = 0 AND vec_id < CAP*MOD` admits at most CAP
    non-negative ids — with the range half PUSHED to the parquet scan,
    not a corpus fraction (which grows with data and OOMs the broadcast
    at 100x) and not a sort-limit (which pays a range-partition shuffle
    of the held-out slice just to pick CAP rows). Pin: the id-range
    predicate reaches PushedFilters, and the eval side has no Exchange
    below its BroadcastExchange."""
    from structured_streaming_cassandra_sink_spark.operators.similarity import (
        KNN_EVAL_CAP,
        KNN_TEST_MOD,
    )

    plan = _plan(spark, sf_dir, "knn_classify_eval")
    cutoff = KNN_EVAL_CAP * KNN_TEST_MOD
    assert re.search(rf"PushedFilters: \[.*LessThan\(vec_id,{cutoff}\)", plan)
    # the broadcast subtree (BroadcastExchange -> its scan) must be
    # shuffle-free: between the BroadcastExchange node and the end of
    # the tree sketch there is exactly the filter/project/scan chain
    sketch = plan.split("(1) Scan")[0]
    bx = sketch.index("BroadcastExchange")
    assert "Exchange" not in sketch[bx + len("BroadcastExchange"):]


def test_knn_eval_rank_is_salted_two_stage(spark, sf_dir):
    """knn_classify_eval must never rank raw corpus rows over the
    <=|test|-key window directly (each reducer would sort the entire
    train corpus at 100x): stage 1 ranks within (tid, salt) and keeps K
    per group, so the tid-only window sees only lattice-bounded
    survivors. Pin: exactly two row_number windows, the first
    partitioned by (tid, salt), and a shuffle Exchange keyed on salt
    exists between them."""
    plan = _plan(spark, sf_dir, "knn_classify_eval")
    blocks = plan.split("\n\n")
    windows = [
        blk
        for blk in blocks
        if re.match(r"\(\d+\) Window\b", blk.lstrip()) and "row_number" in blk
    ]
    # neighbour stage 1 (tid, salt), stage 2 (tid), vote winner (tid over
    # the |test| x |labels| lattice) — and nothing ranking raw rows
    assert len(windows) == 3, f"expected 3 row_number windows, got {len(windows)}"
    salted = [blk for blk in windows if re.search(r"\bsalt#\d+", blk)]
    assert len(salted) == 1, "exactly one window must partition by salt"
    assert re.search(r"hashpartitioning\([^)]*salt", plan), "no salt-keyed Exchange"
    # rank-limit pushdown must stay active on both neighbour stages: a
    # partial WindowGroupLimit below each rank Exchange bounds what the
    # shuffle carries to K rows per key per map partition
    assert len(re.findall(r"\(\d+\) WindowGroupLimit", plan)) >= 4, (
        "WindowGroupLimit pushdown missing — rank shuffles would carry raw rows"
    )


def test_check_full_artifact_covers_registry():
    """The newest committed CHECK_FULL_r*.json (the builder's full
    oracle sweep) must cover every registered query, every oracle-backed
    entry hash-green and every rows-only entry non-empty. With the
    PLAN_GUARD and OPERATORS.md twins above, this completes the
    registry-vs-artifacts diff the r3 verdict asked for: a query can no
    longer ship without a sweep row (r3 shipped zonemap_prune_report
    absent from CHECK_FULL_r03)."""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(glob.glob(os.path.join(root, "CHECK_FULL_r*.json")))
    assert paths, "run tools/check.py --json CHECK_FULL_rNN.json"
    data = json.load(open(paths[-1]))
    missing = set(registry.QUERIES) - set(data)
    assert not missing, f"{os.path.basename(paths[-1])} missing {sorted(missing)[:5]}"
    bad = {
        n: e
        for n, e in data.items()
        if (e["err"] == "no_oracle" and not e["spark_rows"])
        or (e["err"] != "no_oracle" and not (e["rows_match"] and e["schema_match"] and e["hash_match"]))
    }
    assert not bad, f"non-green sweep rows: {list(bad)[:5]}"


def test_bench_full_artifact_covers_registry():
    """BENCH_FULL.json (bench.py's committed per-query map) must cover
    every registered query — names only, timings are environment-bound.
    Regeneration is the last step of a session, same as CHECK_FULL and
    PLAN_GUARD."""
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    data = json.load(open(os.path.join(root, "BENCH_FULL.json")))
    missing = set(registry.QUERIES) - set(data["queries"])
    assert not missing, f"BENCH_FULL.json missing {sorted(missing)[:5]}"


def test_kcore_is_one_message_passing_plan(spark, sf_dir):
    """graph_kcore is one lazy plan: no checkpointed RDD scan, and one
    shuffle per peel round on top of the edge build's two (order key,
    pair) and the final degree count."""
    from structured_streaming_cassandra_sink_spark.operators.relational import KCORE_ROUNDS

    plan = _plan(spark, sf_dir, "graph_kcore")
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == KCORE_ROUNDS + 3, plan
