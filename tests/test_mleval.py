"""ML-evaluation & feature-engineering operators: mathematical
invariants the DuckDB oracle cannot express (bounds, conservation,
monotonicity) plus plan pins for the family's scale contracts."""

from __future__ import annotations

import math

from structured_streaming_cassandra_sink_spark.engine import plan_string
from structured_streaming_cassandra_sink_spark.operators import mleval
from structured_streaming_cassandra_sink_spark.plans import registry

registry.load_all()
Q = registry.QUERIES


def _plan(spark, sf_dir, name):
    return plan_string(Q[name](spark, sf_dir))


def test_auc_bounds_and_separable_case(spark, sf_dir):
    rows = Q["roc_auc"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["auc"] <= 1.0
        assert 0 < r["n_pos"] < r["n_orders"]
    # perfectly separable synthetic case: score==label ranks positives
    # strictly above → midrank AUC is exactly 1
    df = spark.createDataFrame(
        [("a", 1.0, "F"), ("a", 0.0, "O"), ("a", 0.5, "P")],
        "o_orderpriority string, o_totalprice double, o_orderstatus string",
    )
    df.createOrReplaceTempView("_auc_sep")
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    g = df.groupBy(
        F.col("o_orderpriority").alias("p"), F.col("o_totalprice").alias("s")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
            "npos"
        ),
    )
    w = Window.partitionBy("p").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = g.withColumn("cumb", F.coalesce(F.sum("n").over(w), F.lit(0)))
    a = r.groupBy("p").agg(
        F.sum("n").alias("N"),
        F.sum("npos").alias("P"),
        F.sum(F.col("npos") * F.col("cumb")).alias("s_cum"),
        F.sum(F.col("npos") * (F.col("n") + 1)).alias("s_tie"),
    ).collect()[0]
    auc = (a["s_cum"] + a["s_tie"] / 2.0 - a["P"] * (a["P"] + 1) / 2.0) / (
        a["P"] * (a["N"] - a["P"])
    )
    assert auc == 1.0


def test_gini_bounds(spark, sf_dir):
    for r in Q["gini_lorenz"](spark, sf_dir).collect():
        assert 0.0 <= r["gini"] < 1.0


def test_ks_bounds(spark, sf_dir):
    r = Q["ks_statistic"](spark, sf_dir).collect()
    assert len(r) == 1
    assert 0.0 <= r[0]["ks_d"] <= 1.0


def test_psi_total_nonnegative_and_probs_sum(spark, sf_dir):
    rows = Q["psi_drift"](spark, sf_dir).collect()
    # Σ(p2-p1)ln(p2/p1) is a symmetrized KL — nonnegative by construction
    assert sum(r["psi_term"] for r in rows) >= -1e-9
    # smoothed probabilities over OCCUPIED bins sum to ≤1 (empty bins
    # hold the rest of the smoothing mass), and close to 1 here
    s1 = sum(r["p_ref"] for r in rows)
    s2 = sum(r["p_cur"] for r in rows)
    assert 0.9 < s1 <= 1.0 + 1e-6 and 0.9 < s2 <= 1.0 + 1e-6


def test_calibration_conserves_rows(spark, sf_dir):
    rows = Q["calibration_bins"](spark, sf_dir).collect()
    total = sum(r["n"] for r in rows)
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert total == n_orders
    for r in rows:
        assert 0 <= r["bin"] < mleval.N_BINS
        assert 0.0 <= r["frac_pos"] <= 1.0
        assert -1e-9 <= r["mean_score"] <= 1.0 + 1e-9


def test_target_encoding_shrinks_toward_global(spark, sf_dir):
    rows = Q["target_encode_smoothed"](spark, sf_dir).collect()
    tot = sum(r["n_orders"] for r in rows)
    gmean = sum(r["raw_rate"] * r["n_orders"] for r in rows) / tot
    for r in rows:
        # smoothing pulls every segment's encoding strictly between its
        # raw rate and the global rate (or equal when they coincide)
        lo, hi = sorted([r["raw_rate"], gmean])
        assert lo - 1e-4 <= r["encoded"] <= hi + 1e-4


def test_chi2_cells_nonnegative_and_marginals(spark, sf_dir):
    rows = Q["chi2_independence"](spark, sf_dir).collect()
    n = sum(r["observed"] for r in rows)
    exp_total = sum(r["expected"] for r in rows)
    assert abs(exp_total - n) < 0.1  # expectations conserve the total
    for r in rows:
        assert r["chi2_term"] >= 0.0


def test_feature_hash_bucket_domain(spark, sf_dir):
    rows = Q["feature_hash"](spark, sf_dir).collect()
    assert rows
    assert all(0 <= r["bucket"] < mleval.FH_BUCKETS for r in rows)
    # two features per event → total count = 2 × events with parseable k
    # (k is always present in the synthetic props)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r["cnt"] for r in rows) == 2 * n_events


def test_jackknife_ci_brackets_mean(spark, sf_dir):
    r = Q["jackknife_ci"](spark, sf_dir).collect()[0]
    assert r["ci_lo"] <= r["mean_value"] <= r["ci_hi"]
    assert r["se_jack"] >= 0.0
    # the jackknife SE of a mean must be within an order of magnitude of
    # the classical s/sqrt(n) — catches block-math errors
    import pyspark.sql.functions as F

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    st = e.agg(
        F.stddev_samp("value").alias("sd"), F.count("*").alias("n")
    ).collect()[0]
    classical = st["sd"] / math.sqrt(st["n"])
    assert classical / 10 < r["se_jack"] < classical * 10


def test_confusion_conserves_and_f1_consistent(spark, sf_dir):
    rows = Q["confusion_report"](spark, sf_dir).collect()
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert sum(r["tp"] + r["fp"] + r["fn"] + r["tn"] for r in rows) == n_orders
    for r in rows:
        if r["precision_"] is not None and r["recall_"] is not None:
            p, q = r["precision_"], r["recall_"]
            if p + q > 0:
                assert abs(r["f1"] - 2 * p * q / (p + q)) < 1e-3


def test_lift_cumulative_capture_monotone(spark, sf_dir):
    rows = sorted(
        Q["lift_band_report"](spark, sf_dir).collect(),
        key=lambda r: -r["band"],
    )
    caps = [r["cum_capture"] for r in rows]
    assert all(b >= a - 1e-9 for a, b in zip(caps, caps[1:]))
    assert abs(caps[-1] - 1.0) < 1e-6  # all positives captured at band 0


def test_mleval_plans_no_python_no_stray_shuffle(spark, sf_dir):
    """The whole family stays JVM-side, and the ranking metrics shuffle
    only for (a) the lattice agg and (b) the lattice window — raw rows
    are never ranked."""
    for name in [
        "roc_auc",
        "gini_lorenz",
        "ks_statistic",
        "calibration_bins",
        "psi_drift",
        "target_encode_smoothed",
        "chi2_independence",
        "feature_hash",
        "jackknife_ci",
        "confusion_report",
        "lift_band_report",
    ]:
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name
    # scalar side-inputs enter via broadcast, not shuffle
    for name in ["calibration_bins", "psi_drift", "lift_band_report"]:
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, name


def test_ttest_welch_consistency(spark, sf_dir):
    r = Q["ttest_welch"](spark, sf_dir).collect()[0]
    # df_welch is bracketed by min(n)-1 and n1+n2-2 (Welch-Satterthwaite)
    assert min(r["n_click"], r["n_view"]) - 1 <= r["df_welch"] <= (
        r["n_click"] + r["n_view"] - 2
    )
    # t sign follows the mean difference
    import math

    diff = r["mean_click"] - r["mean_view"]
    assert r["t_stat"] == 0 or math.copysign(1, r["t_stat"]) == math.copysign(
        1, diff
    )


def test_mutual_information_total_nonnegative(spark, sf_dir):
    rows = Q["mutual_information"](spark, sf_dir).collect()
    assert sum(r["mi_term"] for r in rows) >= -1e-9  # MI >= 0
    assert sum(r["n_xy"] for r in rows) == spark.read.parquet(
        f"{sf_dir}/events.parquet"
    ).count()


def test_cramers_v_bounds(spark, sf_dir):
    r = Q["cramers_v"](spark, sf_dir).collect()[0]
    assert 0.0 <= r["cramers_v"] <= 1.0
    assert r["chi2"] >= 0.0 and r["dof"] >= 1


def test_hhi_bounds(spark, sf_dir):
    for r in Q["hhi_concentration"](spark, sf_dir).collect():
        # HHI in [1/n, 1]; top share can't exceed HHI's sqrt upper logic
        assert 1.0 / r["n_suppliers"] - 1e-9 <= r["hhi"] <= 1.0 + 1e-9
        assert 0.0 <= r["top_share"] <= 1.0
        assert r["hhi"] >= r["top_share"] * r["top_share"] - 1e-9


def test_quantile_normalize_domain_and_monotone(spark, sf_dir):
    rows = Q["quantile_normalize"](spark, sf_dir).collect()
    assert all(0.0 < r["qrank"] < 1.0 for r in rows)
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append((r["value"], r["qrank"]))
    for pairs in by_type.values():
        pairs.sort()
        qs = [q for _, q in pairs]
        assert qs == sorted(qs)  # qrank strictly follows value order


def test_winsorize_shrinks_toward_center(spark, sf_dir):
    for r in Q["winsorize_clip"](spark, sf_dir).collect():
        # clipping both tails of a right-skewed price cuts the mean
        assert r["n_clip_lo"] + r["n_clip_hi"] < r["n"]
        assert r["n_clip_lo"] >= 0 and r["n_clip_hi"] >= 0


def test_zipf_fit_plausible(spark, sf_dir):
    r = Q["zipf_fit"](spark, sf_dir).collect()[0]
    assert r["n_fit"] > 10
    assert 0.0 < r["zipf_exponent"] < 3.0  # natural-ish text ~1
    assert 0.0 <= r["r2"] <= 1.0


def test_sprt_stop_at_first_crossing_semantics(spark, sf_dir):
    """SPRT invariants: days are labeled continue until the first
    boundary crossing, `stopped` is monotone non-decreasing in day
    order, and at least one crossing occurs (constants tuned so the
    trajectory is non-vacuous at every sf)."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = sorted(
        QUERIES["sprt_sequential_test"](spark, sf_dir).collect(),
        key=lambda r: r.day_ts,
    )
    assert rows
    seen_stop = False
    for r in rows:
        if seen_stop:
            assert r.stopped  # monotone: once stopped, stays stopped
        if r.decision != "continue":
            seen_stop = True
            assert r.stopped
    assert seen_stop, "constants must produce a crossing on this data"


def test_spearman_kendall_synthetic_monotone(spark):
    """Perfect monotone data → rho = tau = 1; perfect anti-monotone →
    -1. Exercises the lattice ranking path on a tiny controlled
    lineitem twin (distinct values, no ties)."""
    import pyspark.sql.functions as F

    from structured_streaming_cassandra_sink_spark.operators.mleval import kendall_tau, spearman_corr

    def _mk(tmp_rows):
        return spark.createDataFrame(
            tmp_rows, "l_returnflag string, l_quantity double, l_discount double"
        )

    up = _mk([("A", float(i), float(i) / 100.0) for i in range(1, 8)])
    dn = _mk([("A", float(i), float(8 - i) / 100.0) for i in range(1, 8)])
    import tempfile, os

    for df, want in [(up, 1.0), (dn, -1.0)]:
        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
        r = spearman_corr(spark, d).collect()
        assert len(r) == 1 and abs(r[0]["spearman_rho"] - want) < 1e-9
        k = kendall_tau(spark, d).collect()
        assert len(k) == 1 and abs(k[0]["tau_b"] - want) < 1e-9
        if want == 1.0:
            assert k[0]["discordant"] == 0
        else:
            assert k[0]["concordant"] == 0


def test_kendall_pair_conservation(spark, sf_dir):
    """conc + disc + (pairs tied in x or y) == n(n-1)/2 per flag — the
    pair-count conservation law that pins the lattice self-join."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = {r["flag"]: r for r in QUERIES["kendall_tau"](spark, sf_dir).collect()}
    for flag, r in rows.items():
        n0 = r["n_rows"] * (r["n_rows"] - 1) // 2
        assert 0 <= r["concordant"] + r["discordant"] <= n0
        assert -1.0 <= r["tau_b"] <= 1.0
        # Spearman and tau-b must agree in SIGN on the same data
    sp = {r["flag"]: r for r in QUERIES["spearman_corr"](spark, sf_dir).collect()}
    for flag in rows:
        if abs(sp[flag]["spearman_rho"]) > 1e-3:
            assert (sp[flag]["spearman_rho"] > 0) == (rows[flag]["tau_b"] > 0)


def test_anova_f_nonnegative_and_null_case(spark, sf_dir):
    """F >= 0 and eta² in [0,1] on real data; on a synthetic events
    twin where every group has identical values, SSB == 0 → F == 0."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES
    from structured_streaming_cassandra_sink_spark.operators.mleval import anova_oneway
    import tempfile, os

    r = QUERIES["anova_oneway"](spark, sf_dir).collect()[0]
    assert r["f_stat"] >= 0 and 0.0 <= r["eta_squared"] <= 1.0
    d = tempfile.mkdtemp()
    rows = [(t, v) for t in ("a", "b", "c") for v in (1.0, 2.0, 3.0)]
    spark.createDataFrame(rows, "event_type string, value double").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "events.parquet"))
    r0 = anova_oneway(spark, d).collect()[0]
    assert abs(r0["f_stat"]) < 1e-9 and abs(r0["eta_squared"]) < 1e-9


def test_cohens_kappa_bounds_and_perfect_agreement(spark, sf_dir):
    """kappa <= 1 always, == 1 on self-agreement, and the degenerate
    guard precondition holds on the fixture (both raters mix classes in
    every priority, so p_exp < 1)."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES
    from structured_streaming_cassandra_sink_spark.operators.mleval import cohens_kappa
    import tempfile, os

    for r in QUERIES["cohens_kappa"](spark, sf_dir).collect():
        assert r["kappa"] <= 1.0 and r["p_exp"] < 1.0
        assert 0 < r["a_pos"] < r["n"] and 0 < r["b_pos"] < r["n"]
    # perfect agreement: rater A (price>thr) == rater B (status F)
    d = tempfile.mkdtemp()
    rows = [("1-URGENT", 200000.0, "F"), ("1-URGENT", 100000.0, "O")] * 4
    spark.createDataFrame(
        rows, "o_orderpriority string, o_totalprice double, o_orderstatus string"
    ).write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
    r = cohens_kappa(spark, d).collect()[0]
    assert abs(r["kappa"] - 1.0) < 1e-9 and abs(r["p_obs"] - 1.0) < 1e-9


def test_pr_auc_bounds_and_separable(spark, sf_dir):
    """AP is bounded by [prevalence-at-best-case floor, 1]; a perfectly
    separable synthetic fixture scores exactly 1."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES
    from structured_streaming_cassandra_sink_spark.operators.mleval import pr_auc
    import tempfile, os

    for r in QUERIES["pr_auc"](spark, sf_dir).collect():
        assert 0.0 < r["average_precision"] <= 1.0
        assert 0 < r["n_pos"] < r["n_orders"]
    d = tempfile.mkdtemp()
    rows = [("X", 300000.0, "F"), ("X", 200000.0, "F"), ("X", 10.0, "O"), ("X", 5.0, "O")]
    spark.createDataFrame(
        rows, "o_orderpriority string, o_totalprice double, o_orderstatus string"
    ).write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
    r = pr_auc(spark, d).collect()[0]
    assert abs(r["average_precision"] - 1.0) < 1e-9


def test_log_loss_brier_bounds(spark, sf_dir):
    """log_loss >= 0 (clamped probs keep it finite), brier in [0,1]."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    for r in QUERIES["log_loss_brier"](spark, sf_dir).collect():
        assert r["log_loss"] >= 0.0
        assert 0.0 <= r["brier"] <= 1.0


def test_stats_battery_plans_jvm_side(spark, sf_dir):
    """The new statistics stay codegen-resident: no Python eval, and
    the lattice-based pair math never ranks raw rows (no global sort of
    the fact table)."""
    for name in [
        "spearman_corr",
        "kendall_tau",
        "anova_oneway",
        "cohens_kappa",
        "pr_auc",
        "log_loss_brier",
    ]:
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name


def test_naive_bayes_model_is_proper_distribution(spark, sf_dir):
    """Per language, Σ_w P(w|lang) == 1 (the smoothed probabilities are
    a proper distribution over the vocab grid), and every (lang, word)
    cell exists — including zero-count cells."""
    import math

    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["naive_bayes_train"](spark, sf_dir).collect()
    langs = {r["lang"] for r in rows}
    vocab = {r["w"] for r in rows}
    assert len(rows) == len(langs) * len(vocab)
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], 0.0)
        by_lang[r["lang"]] += math.exp(r["log_p"])
    for lang, tot in by_lang.items():
        assert abs(tot - 1.0) < 1e-6, (lang, tot)


def test_naive_bayes_score_covers_corpus_and_separable_case(spark, sf_dir, tmp_path):
    """Every document gets exactly one prediction from the known label
    set (fixture word distributions are near-identical across langs, so
    accuracy there is meaningless); on a synthetic corpus with disjoint
    per-lang vocabularies, NB must recover every label exactly."""
    from structured_streaming_cassandra_sink_spark.operators.mleval import naive_bayes_score
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES
    from structured_streaming_cassandra_sink_spark.sources import load_table

    pred = {r["doc_id"]: r["pred_lang"] for r in QUERIES["naive_bayes_score"](spark, sf_dir).collect()}
    truth = {
        r["doc_id"]: r["lang"]
        for r in load_table(spark, "documents", sf_dir).select("doc_id", "lang").collect()
    }
    assert set(pred) == set(truth)
    assert set(pred.values()) <= set(truth.values())
    docs = [
        (1, "aaa aaa bbb", "en", "s", 11),
        (2, "bbb aaa aaa", "en", "s", 11),
        (3, "xxx yyy xxx", "de", "s", 11),
        (4, "yyy xxx xxx", "de", "s", 11),
    ]
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r["doc_id"]: r["pred_lang"] for r in naive_bayes_score(spark, str(tmp_path)).collect()}
    assert got == {1: "en", 2: "en", 3: "de", 4: "de"}


def test_isotonic_matches_sequential_pav_and_monotone(spark, sf_dir):
    """The minimax-lattice fit equals the classic sequential
    pool-adjacent-violators algorithm run on the same bins, and the
    fitted rates are monotone nondecreasing."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = sorted(
        QUERIES["isotonic_calibration"](spark, sf_dir).collect(),
        key=lambda r: r["bin"],
    )
    assert rows
    iso = [r["iso_rate"] for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(iso, iso[1:]))
    # brute-force sequential PAV on (pos/n, weight n)
    blocks = []  # (sum_pos, sum_n)
    for r in rows:
        blocks.append((r["pos"], r["n"]))
        while len(blocks) > 1 and (
            blocks[-2][0] * blocks[-1][1] >= blocks[-1][0] * blocks[-2][1]
        ):
            p2, n2 = blocks.pop()
            p1, n1 = blocks.pop()
            blocks.append((p1 + p2, n1 + n2))
    # expand blocks back over bins
    want = []
    k = 0
    for p, n in blocks:
        # count how many original bins this block covers by matching n
        acc = 0
        cnt = 0
        while acc < n:
            acc += rows[k + cnt]["n"]
            cnt += 1
        want.extend([p / n] * cnt)
        k += cnt
    assert len(want) == len(iso)
    for got, exp in zip(iso, want):
        assert abs(got - round(exp, 6)) < 1e-9


def test_cuped_variance_identities(spark, sf_dir):
    """var_adjusted = var_raw·(1 − ρ²) ≥ 0, variance_reduction = ρ² in
    [0, 1], and the adjusted variance never exceeds the raw one (CUPED
    can only help or no-op)."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    r = QUERIES["cuped_adjustment"](spark, sf_dir).collect()[0]
    assert 0.0 <= r["variance_reduction"] <= 1.0
    assert 0.0 <= r["var_adjusted"] <= r["var_raw"] + 1e-6
    assert abs(r["var_adjusted"] - r["var_raw"] * (1 - r["variance_reduction"])) < max(
        1e-2, r["var_raw"] * 1e-4
    )


def test_delta_method_ci_brackets_ratio(spark, sf_dir):
    """Per arm: ci_lo < ratio < ci_hi, se > 0, and the ratio equals the
    sum quotient exactly."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = QUERIES["delta_method_ratio_ci"](spark, sf_dir).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["se"] > 0
        assert r["ci_lo"] < r["ratio"] < r["ci_hi"]
        assert abs(r["ratio"] - round(r["clicks"] / r["views"], 6)) < 1e-9


def test_info_gain_nonnegative_and_noise_feature_near_zero(spark, sf_dir):
    """IG >= 0 for every feature (Jensen), and the deliberate noise
    feature (custkey mod 10) carries almost no information about the
    label — the sanity anchor for the statistic."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = {r["feature"]: r for r in QUERIES["feature_info_gain"](spark, sf_dir).collect()}
    assert set(rows) == {"price_bin", "priority", "month", "cust_mod10"}
    for r in rows.values():
        assert r["info_gain"] >= -1e-9
    assert rows["cust_mod10"]["info_gain"] < 0.01


def test_qini_conservation_and_final_point(spark, sf_dir):
    """Decile counts partition the population; the LAST cumulative row
    (full population) reproduces the overall incremental conversions
    yt_total - yc_total*NT/NC; uplift_cum is a rate in [-1, 1]."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    rows = sorted(
        QUERIES["qini_uplift_curve"](spark, sf_dir).collect(),
        key=lambda r: -r["decile"],
    )
    assert len(rows) == 10
    nt = sum(r["nt"] for r in rows)
    nc = sum(r["nc"] for r in rows)
    yt = sum(r["yt"] for r in rows)
    yc = sum(r["yc"] for r in rows)
    last = rows[-1]
    assert last["qini_cum"] is not None
    assert abs(last["qini_cum"] - (yt - yc * nt / nc)) < 5e-4
    for r in rows:
        if r["uplift_cum"] is not None:
            assert -1.0 <= r["uplift_cum"] <= 1.0


def test_brier_decomposition_identity(spark, sf_dir):
    """The 5-term Murphy identity is exact: brier = reliability -
    resolution + uncertainty + wb_var - 2*wb_cov (to rounding), with
    every variance-like term non-negative and uncertainty <= 0.25."""
    from structured_streaming_cassandra_sink_spark.plans.registry import QUERIES

    r = QUERIES["brier_decomposition"](spark, sf_dir).collect()[0]
    lhs = r["brier"]
    rhs = (
        r["reliability"] - r["resolution"] + r["uncertainty"]
        + r["wb_var"] - 2 * r["wb_cov"]
    )
    assert abs(lhs - rhs) < 1e-5, (lhs, rhs)
    assert r["reliability"] >= 0 and r["resolution"] >= 0
    assert r["wb_var"] >= 0
    assert 0 <= r["uncertainty"] <= 0.25
