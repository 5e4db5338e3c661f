#!/usr/bin/env python
"""Registry-wide physical-plan guard — the scale anti-pattern sweep.

tests/test_plans.py pins ~70 hand-picked shapes; this tool sweeps EVERY
registered query's formatted plan for the patterns that break at 100 TB:

- CartesianProduct           -> never allowed
- BroadcastNestedLoopJoin    -> allowed only on the documented allowlist
                                (broadcast 1-row ride-alongs, intentional
                                query-set x corpus products)
- Window without PARTITION BY-> allowed only on the documented allowlist
                                (windows over provably bounded frames:
                                vocabulary ranks, day grids, ranker
                                output, partition-count tables)
- BatchEvalPython/ArrowEval  -> allowed only where pandas is the DESIGN
                                (grouped-map recurrences, multimodal
                                decoders, explicit pandas surfaces)

It also RECORDS (without gating) each plan's shuffle-Exchange count, so
the committed artifact doubles as a shuffle-budget ledger: a diff of
PLAN_GUARD.json across rounds shows exactly which operators gained or
lost a shuffle.

Usage:  python tools/plan_guard.py [--json PLAN_GUARD.json] [query ...]
Exit 1 on any violation outside the allowlists.

Plans are built (not executed) — but note that SOME query constructors
run bounded driver jobs (two-pass offsets, index builds, Lloyd rounds);
the sweep therefore costs a few minutes, not seconds.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")

# BroadcastNestedLoopJoin: every entry is a deliberate broadcast product,
# verified against the committed artifact — either a 1-row scalar/stats
# ride-along (crossJoin(broadcast(agg_row))) or an intentional
# small-set x corpus product (probe vectors, K centroids). Entries whose
# plans no longer contain a BNLJ are PRUNED so regressions can't hide.
BNLJ_ALLOWED = {
    # probe/centroid-set x corpus products (the design):
    "sim_search_topk", "sim_search_pq_adc", "hard_negative_topk",
    "ndcg_at_k", "mrr_map_at_k", "ann_recall_report",
    "embedding_cluster_assign",
    "kmeans_lloyd",  # K-row centroid broadcast ride-along (re-added r10:
                     # literal centroids recompiled codegen per iteration)
    # 1-row scalar / stats-row ride-alongs:
    "ab_test_readout", "acf_lags", "benford_check", "bigram_lm_probs",
    "bm25_score", "calibration_bins", "countmin_sketch_report",
    "cramers_v", "data_freshness_report", "fk_orphan_check",
    "histogram2d_heatmap", "jackknife_ci", "lift_band_report",
    "mutual_information", "negative_sample", "psi_drift", "rrf_fusion",
    "share_of_group", "skew_profile", "survival_kaplan_meier",
    "emd_drift", "target_encode_smoothed", "temporal_split_embargo",
    "tfidf_top_terms", "ttest_welch", "vocab_coverage", "word_pmi",
    # class-set x band-lattice product + 1-row total ride-along
    "t_closeness_check",
    # 1-row scalar / stats-row ride-alongs (session additions):
    "log_loss_brier",        # global min/max row for the prob clamp
    "epoch_shuffle_assign",  # 3-row epoch lattice Expand ride-along
    "naive_bayes_train",     # per-lang token-total marginal ride-along
    "naive_bayes_score",     # model + prior broadcasts (vocab x langs)
    "feature_info_gain",     # min/max row + per-feature totals ride-along
    "rfm_segmentation",      # ref-date row + 12-scalar boundary row
    # (graph_hits_bipartite PRUNED r11: its max-normalizer is now a
    # driver-collected literal, so no BNLJ remains in the plan)
    # bin-lattice x interval-lattice products (<=10^3 tuples by design):
    "isotonic_calibration",
    "survival_c_index",      # (t,score)-lattice x lattice inequality product (<=10^4 cells)
    "late_data_audit",       # 1-row total-count ride-along onto the band lattice
    "qini_uplift_curve",     # 9-scalar decile-cut row ride-along
    "collocation_g2",        # 1-row bigram-total ride-along
    "brier_decomposition",   # min/max row + 1-row totals onto the bin lattice
    "pinball_loss_eval",     # 3-row quantile-level broadcast onto the day lattice
    "subquery_anti_scalar",  # two 1-row scalar ride-alongs (avg balance, recency cutoff)
    "knn_classify_eval",     # bounded eval-set x train-corpus product (the design)
}

# Window with an empty PARTITION BY (single-partition sort): every entry
# names the BOUNDED lattice the window actually orders — never the raw
# fact table. Pruned to plans that actually contain one (artifact-
# verified) so a new unpartitioned window anywhere else trips the guard.
UNPART_WINDOW_ALLOWED = {
    "acf_lags",               # day-grid lag frames
    "ks_statistic",           # distinct-score lattice CDF
    "lift_band_report",       # decile lattice
    "link_prediction_adamic_adar",  # rounded-score top-100 over wedges
    "pq_encode",              # codebook rank (K rows per subspace)
    "rrf_fusion",             # ranker-output rank (depth-capped lists)
    "running_distinct",       # day-grid running distinct
    "seasonal_decompose",     # day-grid centered trend
    "sprt_sequential_test",   # day-lattice running LLR + stop flag
    "emd_drift",              # CDF windows over the 10-row bin lattice
    "survival_kaplan_meier",  # duration lattice product
    "tokenize_to_ids",        # zipf-bounded vocabulary rank
    "vocab_coverage",         # vocabulary rank
    "window_rolling_corr",    # hour-grid frames
    "zipf_fit",               # vocabulary rank
    "isotonic_calibration",   # prefix sums over the 10-row bin lattice
    "qini_uplift_curve",      # cumulations over the 10-row decile lattice
}

# Python eval (BatchEvalPython / ArrowEvalPython / FlatMapGroupsInPandas
# / MapInPandas): allowed where pandas IS the operator's design.
# Artifact-verified live set (the edit-distance family moved to JVM
# levenshtein; PCA's eigh is driver-side so no plan node remains).
PYTHON_ALLOWED = {
    "groupwise_zscore_pandas",  # the grouped-map pandas surface, by name
    "ewma_smooth",              # sequential recurrence (mapInPandas, cross-key vectorized)
    "udf_surface",              # the pandas-UDF demo surface
    "udtf_sentence_split",      # the UDTF demo surface
    "multimodal_decode",        # binary decoder (mapInPandas)
    "multimodal_resize",        # binary resize (mapInPandas)
    "multimodal_frame_sample",  # 1->N frame sampler (mapInPandas)
    "arrow_map_surface",        # the mapInArrow demo surface, by name
    "embedding_pca_project",    # eigh projection UDF over the dim lattice
    "heavy_hitters",            # Misra-Gries per-partition partial
                                # (mapInPandas mg_partial) — the
                                # mergeable-summary design
    "holt_linear_smooth",       # two-state coupled recurrence
                                # (grouped-map over the day lattice)
    "dedup_embedding_lsh",      # per-bucket vectorized gram verification
                                # (applyInPandas; r10 — replaced ~2.5M
                                # per-pair interpreted dot folds)
}


def main() -> int:
    out_path = None
    args = sys.argv[1:]
    if args and args[0] == "--json":
        out_path = args[1]
        args = args[2:]

    from structured_streaming_cassandra_sink_spark.engine import plan_string
    from structured_streaming_cassandra_sink_spark.plans import registry
    from structured_streaming_cassandra_sink_spark.session import get_spark

    registry.load_all()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    names = args or sorted(registry.QUERIES)
    report, violations = {}, []
    for name in names:
        try:
            plan = plan_string(registry.QUERIES[name](spark, SF_DIR))
        except Exception as exc:  # noqa: BLE001
            report[name] = {"error": str(exc)[:200]}
            violations.append((name, "plan_failed"))
            continue

        cartesian = "CartesianProduct" in plan
        bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
        # Window nodes: formatted Arguments prints [exprs], [partition],
        # [order], OMITTING empty groups — so both "unpartitioned ordered"
        # and "partitioned unordered" (whole-partition aggregates) show 2
        # groups. Disambiguate by the sort markers: a trailing group with
        # ASC/DESC is an ORDER BY, and 2 groups ending in an ORDER BY
        # means the partition group was empty -> the single-partition
        # sort that breaks at scale. (v1 of this check looked for a
        # literal "[]" that formatted mode never prints — vacuous; v2
        # counted groups and false-positived on partitioned unordered
        # windows.)
        unpart = 0
        for m in re.finditer(r"\(\d+\) Window\n(?:.*\n)*?Arguments: (.*)", plan):
            a = m.group(1)
            depth, groups, starts = 0, 0, []
            for idx, ch in enumerate(a):
                if ch == "[":
                    if depth == 0:
                        groups += 1
                        starts.append(idx)
                    depth += 1
                elif ch == "]":
                    depth -= 1
            last = a[starts[-1]:] if starts else ""
            ordered = " ASC" in last or " DESC" in last
            if groups <= 2 and ordered:
                unpart += 1
        python_nodes = len(
            re.findall(
                r"\(\d+\) (BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|"
                r"MapInPandas|MapInArrow|FlatMapGroupsInPandasWithState)",
                plan,
            )
        )
        # Shuffle ledger (recorded, not gated): "(n) Exchange" counts only
        # shuffle exchanges — BroadcastExchange is a different node label.
        # Diffing this column round-over-round surfaces any operator that
        # silently gained a shuffle, the quietest way to lose 100 TB
        # headroom.
        exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
        row = {
            "cartesian": cartesian,
            "bnlj": bnlj,
            "unpartitioned_windows": unpart,
            "python_nodes": python_nodes,
            "exchanges": exchanges,
        }
        report[name] = row
        if cartesian:
            violations.append((name, "cartesian"))
        if bnlj and name not in BNLJ_ALLOWED:
            violations.append((name, f"bnlj={bnlj}"))
        if unpart and name not in UNPART_WINDOW_ALLOWED:
            violations.append((name, f"unpartitioned_windows={unpart}"))
        if python_nodes and name not in PYTHON_ALLOWED:
            violations.append((name, f"python_nodes={python_nodes}"))

    # Two-sided allowlist check (full-registry sweeps only): an
    # allowlisted name whose plan no longer contains the pattern is a
    # STALE entry — it would silently excuse a future regression, which
    # is exactly what the pruned-allowlist invariant forbids.
    if not args:
        for name, allowed, key in (
            ("bnlj", BNLJ_ALLOWED, "bnlj"),
            ("window", UNPART_WINDOW_ALLOWED, "unpartitioned_windows"),
            ("python", PYTHON_ALLOWED, "python_nodes"),
        ):
            for q in sorted(allowed):
                if report.get(q, {}).get(key, 0) == 0:
                    violations.append((q, f"stale_allowlist_{name}"))

    if out_path:
        with open(out_path, "w") as fh:
            json.dump(
                {"queries": report, "violations": [f"{n}:{v}" for n, v in violations]},
                fh,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {out_path}")
    for n, v in violations:
        print(f"VIOLATION {n}: {v}")
    print(f"{len(names)} plans checked, {len(violations)} violations")
    return 1 if violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
