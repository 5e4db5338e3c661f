"""Regenerate PLANS.md — formatted physical plans for headline queries.

Usage: python tools/plans_doc.py   (writes PLANS.md at the repo root)

The point: make the 100 TB design reviewable. Each snapshot shows the
properties the plan-shape tests assert — pushed filters, pruned schemas,
broadcast vs shuffle joins, TakeOrderedAndProject, partial aggregation,
no Python in relational paths.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

HEADLINERS = {
    "filter_predicate": "filter pushdown reaches the parquet scan (PushedFilters), untouched columns pruned (ReadSchema)",
    "join_inner_broadcast": "dimension join broadcasts the small side — no fact-table shuffle",
    "groupby_agg": "two-phase hash aggregation: map-side partial_ aggregates, then a tiny shuffle of partials",
    "sort_limit_topk": "global top-k is TakeOrderedAndProject (per-partition heap), never a global sort",
    "join_skew_salted": "salt column widens the shuffle key so hot keys spread over reducers",
    "join_asof": "as-of join as one shuffle + ordered window (no range-join explosion)",
    "dedup_exact": "dedup is a hash aggregate on the 128-bit fingerprint — one shuffle of (fp, doc_id)",
    "sim_search_topk": "corpus scanned once; tiny query side broadcast; per-query window top-k",
    "dedup_ngram_jaccard": "inverted-index self-join: one shuffle on the shingle, ReusedExchange on the second side, pair counts as aggregate",
    "curation_pipeline": "quality gate collapses into the scan; only the fingerprint-dedup shuffle remains",
    "train_val_split": "pure map: hash-bucket split with zero exchanges",
    "bm25_score": "query-vocab filter before any shuffle; broadcast stats; TakeOrderedAndProject cut",
    "embedding_cluster_assign": "K-row centroid table broadcast against one corpus scan (Lloyd half-step)",
    "table_profile": "every column's null/distinct profile in ONE scan via Expand multi-distinct",
    "time_rollup": "all grouping levels from one Expand + partial aggregation pass",
    "subquery_exists": "correlated EXISTS decorrelated to a left-semi join (no per-row subquery node)",
    "subquery_correlated_scalar": "correlated scalar avg() decorrelated to a per-key aggregate joined back",
    "argminmax_agg": "max_by/min_by argmax in one hash aggregate — no Window, no Sort",
    "topk_per_group_agg": "per-group top-k as collect+sort_array+slice aggregate — contrast window_rank's sort",
    "edit_distance_pairs": "(lang, length-band) blocking keys a hash join — no cartesian/BNL product",
    "roc_auc": "AUC never ranks raw rows: hash agg to the (priority, score) lattice, cumulative window over the lattice, integer-exact rank sums",
    "winsorize_clip": "exact-percentile cuts (tiny agg) broadcast back onto the fact scan; clip is map-side least/greatest in codegen",
    "feature_hash": "two features per row from one scan (explode over array), md5 bucket key, single (user, bucket) hash agg",
    "gaps_islands": "distinct, anchor window and island aggregate share ONE shuffle on user_id",
    "zorder_cluster": "Morton key is pure codegen arithmetic; ordered head is TakeOrderedAndProject",
    "dedup_simhash": "portable md5-nibble sketch in ONE groupBy (64 map-side partial sums); chunk equi-join blocks pairs, no Python eval",
    "tfidf_cosine_pairs": "weight index materialized once, term-keyed self-join computes dot products as aggregates — no cartesian",
    "rrf_fusion": "both rankers broadcast their tiny sides; fusion aggregates depth-bounded lists, corpus-size-free",
    "skyline_pareto": "2D frontier via two-pass prefix-max: every window __pid-partitioned, single broadcast join back to points",
    "scd2_build": "change-point window, island aggregate and interval-closing window all reuse ONE o_custkey Exchange",
    "weighted_sample_topk": "hash-derived exponential keys are pure codegen; one window shuffle on source",
    "split_leakage_safe": "two-phase distinct aggregate shuffles (split, fp) partials — fingerprints, never text",
    "interpolate_linear": "both IGNORE NULLS directions as RUNNING frames (asc + desc sorts) over ONE user_id Exchange — never a CURRENT..UNBOUNDED FOLLOWING frame (quadratic re-aggregation)",
    "join_asof_forward": "forward as-of = reversed-backward running frame: one shuffle + desc sort, no per-row frame re-aggregation (was 78x slower as UNBOUNDED FOLLOWING)",
    "kmeans_lloyd": "each Lloyd iteration: corpus x broadcast(K centroids) argmin + K-group mean — corpus never shuffles, centroid frame localCheckpoint'ed",
    "pq_encode": "subspace explode (M per row) + broadcast codebook join + two bounded aggregations",
    "countmin_sketch_report": "CMS rows explode over the per-key LATTICE (|keys| x D), never raw events; counters collapse to <= D x W groups",
    "survival_kaplan_meier": "duration-lattice windows: users collapse to distinct-t rows first, so unpartitioned running frames are bounded",
    "ngram_novelty_score": "first-occurrence inverted index: two shuffles (shingle-hash, doc), no self-join",
    "ivm_delta_apply": "base and delta scans both push the split predicate; merge re-aggregates 2x|view| partial rows, not events",
    "cep_pattern_match": "CEP A-then-B-unless-C as two stacked forward as-of window passes — no state machine, no range join",
    "scd2_point_in_time_join": "contiguous SCD2 intervals degrade the interval join to the as-of kernel — no BroadcastNestedLoopJoin",
    "dq_rule_check": "every contract rule is a conditional sum in ONE scan (stack unpivot, not per-rule unions)",
    "window_rolling_corr": "six Pearson components from ONE shared window frame over the hourly pivot",
    "markov_transitions": "event stream collapses map-side to the |types|^2 pair space before the wire",
    "vocab_coverage": "corpus crosses the wire once as vocabulary-sized partial counts; thresholds broadcast",
    "bigram_lm_probs": "top-30 winners broadcast onto vocab marginals; |V| rides as a 1-row broadcast cross join",
    "geo_radius_join": "spatial radius join is an EQUI-join on grid-cell keys (3x3 probe ring, antimeridian pmod wrap) — hash join + exact haversine refine, never CartesianProduct",
    "record_linkage_fs": "SymSpell deletion-neighborhood join: 16x variant explode feeds a high-entropy equi key, so candidate pairs stay linear where the demographic block went quadratic",
}


def main() -> int:
    from structured_streaming_cassandra_sink_spark.engine import plan_string
    from structured_streaming_cassandra_sink_spark.plans import registry
    from structured_streaming_cassandra_sink_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="plans-doc")
    out = [
        "# PLANS — physical-plan snapshots of headline queries",
        "",
        f"Generated by `python tools/plans_doc.py` at sf dir `{SF_DIR}`.",
        "Each property called out below is also asserted in",
        "`tests/test_plans.py`, so regressions fail CI rather than silently",
        "degrading the 100 TB story.",
        "",
    ]
    for name, why in HEADLINERS.items():
        plan = plan_string(registry.QUERIES[name](spark, SF_DIR))
        # keep the operator tree + the interesting node details, cap size
        lines = plan.rstrip().splitlines()
        if len(lines) > 80:
            lines = lines[:80] + ["... (truncated)"]
        out += [f"## `{name}`", "", f"**Why this shape:** {why}", "", "```"]
        out += lines
        out += ["```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
