#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion (count + collect of the reduced
result — results are small aggregates by design) after a warm-up of the
session. Wall-clock per query, sum as the headline value.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parking_bigdata_spark import queries as Q  # noqa: E402
from parking_bigdata_spark.session import get_spark  # noqa: E402

#: Headline set: the scale-critical operators (big shuffles, joins,
#: windows, text/similarity pipelines), not the trivially-small ones.
HEADLINE = [
    "q1_pricing_summary",
    "revenue_by_nation",
    "weighted_avg_price",
    "topk_orders_per_customer",
    "customer_value_ratios",
    "corr_matrix",
    "rollup_revenue",
    "cube_revenue",
    "quantile_summary",
    "impute_group_mean",
    "events_windowed",
    "events_sessions",
    "events_asof_purchase",
    "events_rolling_avg",
    "customer_cumulative_spend",
    "dedup_exact",
    "dedup_minhash",
    "ngram_jaccard",
    "dedup_embedding",
    "cosine_topk",
    "ann_ivf",
    "text_quality",
    "pipeline_clean_corpus",
    "ols_normal_eq",
    "pca_explained_variance",
    "custdist_order_counts",
    "large_volume_customers",
    "weekly_revenue_wow",
    "range_join_value_bins",
    "events_gapfill_daily",
    "events_hopping_windows",
    "grouping_sets_revenue",
    "tfidf_top_terms",
    "embedding_centroids",
    "multimodal_features",
    "dedup_clusters",
    "decontam_overlap",
    "collocation_pmi",
    "cheapest_supplier_per_part",
    "sole_late_supplier",
    "orders_trailing_7d",
    "outlier_fences",
    "kmeans_embeddings",
    "snapshot_diff_orders",
    "spearman_qty_price",
    "scd2_user_event_state",
    "psi_drift_by_source",
    "pagerank_suppliers",
    "mad_price_by_flag",
    "decayed_engagement",
    "forecast_revenue_delta",
    "nation_trade_volume",
    "profit_by_nation_year",
    "late_order_priority_counts",
    "local_supplier_volume",
    "ship_speed_priority_mix",
    "supplier_count_by_part",
    "fisher_exact_2x2",
    "kendall_tau_qty_discount",
    "tukey_hsd_segments",
    "cooks_distance_outliers",
    "boxcox_lambda_scan",
    "pr_auc_order_status",
    "dsir_importance_weights",
    "decontam_bloom",
    "changepoint_binseg_daily",
    "partial_corr_matrix",
    "cronbach_alpha",
    "cohen_kappa_orders",
    "theil_index_by_segment",
    "cluster_keep_best",
    "holt_linear_daily",
    "interval_union_coverage",
    "mcnemar_orders",
    "tokenizer_fertility_by_lang",
    "quality_classifier_coeffs",
    "bartlett_acctbal_by_segment",
    "higher_moments_by_flag",
    "mahalanobis_outliers",
    "vocab_overlap_by_source",
    "dow_seasonality_strength",
    "qq_deciles_priority",
    "seasonal_naive_error_daily",
    "dup_rate_by_source",
    "chow_test_by_flag",
    "quality_lift_table",
    "peak_load_window",
    "friedman_dow_test",
    "js_divergence_by_source",
    "effect_sizes_segments",
    "bigram_entropy_by_source",
    "gamma_mom_fit",
    "near_dup_rate_by_source",
    "gram_novelty_by_source",
    "token_packing_stats",
    "dagostino_k2_price",
    "jonckheere_trend_qty",
    "logrank_churn_ab",
    "granger_count_to_value",
    "pettitt_changepoint_daily",
    "interarrival_exp_ks",
    "source_mixture_weights",
    "ann_truncation_recall",
    "ad_ksample_priority",
    "white_test_hetero",
    "lda_returnflag",
    "ar2_yule_walker_daily",
    "bigram_ppl_by_source",
    "embedding_isotropy",
    "vocab_coverage_topk",
    "quantile_reg_90",
    "cross_source_duplication",
    "char_entropy_by_source",
    "session_lognormal_fit",
    "hosmer_lemeshow_status",
    "hellinger_order_value",
    "wavelet_energy_daily",
    "dedup_savings_by_source",
    "contamination_profile",
    "pacf_daily",
    "breusch_godfrey_daily",
    "spectral_entropy_daily",
    "deming_regression",
    "epi_2x2_measures",
    "arch_lm_daily",
    "langid_confusion",
    "weighted_kappa_orders",
    "psi_monthly_orders",
    "embedding_effective_rank",
    "gehan_wilcoxon_churn",
    "brier_decomposition",
    "records_trend_daily",
    "source_js_matrix",
    "label_cohesion_embeddings",
    "sign_test_price",
    "cmh_orders",
    "session_event_cooccurrence",
    "rank_stability_nations",
    "dedup_threshold_curve",
    "hourly_entropy_by_type",
    "anova_effect_sizes",
    "dup_cluster_size_histogram",
    "purchase_cadence",
    "stratified_ht_estimate",
    "median_ci_order_value",
    "kendalls_w_dow",
    "conversion_by_session_depth",
    "generalized_esd_daily",
    "leverage_audit",
    "retention_half_life",
    "wilson_ci_event_reach",
    "cohens_h_priority",
    "newey_west_trend",
    "wilcoxon_signed_rank",
    "ordinal_assoc_qty_discount",
    "ljung_box_daily",
    "negbin_mom_daily",
    "returned_item_customers",
    "nation_value_share",
    "promo_revenue_pct",
    "small_qty_order_revenue",
    "discounted_revenue_bundles",
    "excess_shipment_suppliers",
    "merge_upsert_orders",
    "user_activity_streaks",
    "first_last_touch",
    "sketch_hll_union",
    "mannwhitney_order_value",
    "seasonal_trend_events",
    "rolling_active_users",
    "cuped_experiment_events",
    "hhi_supplier_concentration",
    "basket_brand_lift",
    "gini_acctbal_by_segment",
    "event_transitions",
    "zipf_token_slope",
    "ks_order_value_priority",
    "rfm_customer_segments",
    "text_readability",
    "kaplan_meier_retention",
    "bootstrap_ci_order_value",
    "ewma_smoothed_daily",
    "user_path_patterns",
    "info_gain_features",
    "sketch_top_event_types",
    "weighted_sample_orders",
    "inverted_index_sample",
    # round 2 additions: changed/new scale-relevant queries
    "trimmed_mean_price",
    "residual_diagnostics",
    "cv_metrics_by_fold",
    "score_holdout",
    "knn_impute_labels",
    # round 2 late additions (corpus/graph/ML heavy hitters; the
    # daily-series stats are calendar-bounded and benchmark as noise)
    "semdedup_embeddings",
    "naive_bayes_langid",
    "bm25_scoring",
    "duplicate_chunks",
    "triangle_count_brands",
    "kl_divergence_by_source",
    "huber_lineitem",
    "poisson_glm_daily",
    "pareto_frontier_parts",
    "item_cosine_similarity",
    "gmm_order_value",
    "conformal_interval_coverage",
    "nelson_aalen_hazard",
    "basket_triples",
    "catalog_profile",
    "funnel_latency_quantiles",
    # round 4: streaming batch twins, approx-ECDF twins, bounded
    # forest metrics (VERDICT r03 #4/#5/#7)
    "stream_session_windows_batch",
    "stream_hopping_windows_batch",
    "ks_approx_order_value_priority",
    "ad_ksample_approx_priority",
    "median_ci_approx_order_value",
    "rf_holdout_metrics",
    # round-5 rank-statistic approx twins (VERDICT r04 #2/#3)
    "spearman_approx_qty_price",
    "roc_auc_approx_order_status",
    "kruskal_approx_acctbal_by_segment",
    "mannwhitney_approx_order_value",
    "gini_approx_acctbal_by_segment",
    "mad_approx_price_by_flag",
    # round-5 CMS-prefilter twins (VERDICT r04 #7)
    "gram_novelty_bloom_by_source",
    "duplicate_chunks_bloom",
    # round-6 grid twins + PCR (VERDICT r05 #2/#5)
    "pr_auc_approx_order_status",
    "dunn_approx_segments",
    "wilcoxon_approx_signed_rank",
    "pcr_holdout",
    # round-7 GK proof-bracket twins for the exact-quantile family
    # (VERDICT r06 #2) — measured next to their exact counterparts
    "trimmed_mean_approx_price",
    "winsorized_approx_price_stats",
    "outlier_fences_approx",
    "quantile_summary_approx",
    "rfm_bounds_approx",
    "funnel_latency_approx_quantiles",
]


def _foreign_spark_drivers() -> list[str]:
    """Other live Spark drivers / gate runs on this box (VERDICT r03
    #6): two rounds running, in-bench outliers turned out to be
    concurrency inflation from gate runs sharing the machine. Scan
    /proc BEFORE our own JVM exists; anything matching a Spark driver
    or a repo harness that owns one counts."""
    import glob
    # exclude the WHOLE ancestor chain, not just the parent: the build
    # driver may invoke `sh -c '... python /path/bench.py'` through
    # nested shells whose cmdline also ends in /bench.py — flagging an
    # ancestor would stamp every driver run contended
    me = {os.getpid()}
    pid = os.getpid()
    for _ in range(64):
        try:
            stat = open(f"/proc/{pid}/stat").read()
            pid = int(stat.rsplit(")", 1)[1].split()[1])  # field 4: ppid
        except (OSError, ValueError, IndexError):
            break
        if pid <= 1 or pid in me:
            me.add(max(pid, 1))
            break
        me.add(pid)
    hits = []
    for p in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            pid = int(p.split("/")[2])
            if pid in me:
                continue
            argv = [a.decode("utf-8", "replace")
                    for a in open(p, "rb").read().split(b"\0") if a]
        except (OSError, ValueError):
            continue
        # EXACT argv-token matching only: substring scans false-positive
        # on unrelated processes whose arguments merely mention these
        # names (e.g. an orchestration prompt quoting "pytest")
        spark_jvm = any(a == "org.apache.spark.deploy.SparkSubmit"
                        or a == "pyspark-shell" for a in argv)
        # the harness/pytest patterns only count when the process IS a
        # python interpreter actually running that script — otherwise
        # 'vim bench.py' / 'less bench.py' / a 'tail -f' on a gate log
        # would stamp a genuinely solo run as contended (ADVICE r04)
        argv0 = argv[0].rsplit("/", 1)[-1] if argv else ""
        is_python = argv0.startswith(("python", "pypy")) or argv0 == "pytest"
        harness = is_python and any(
            a.endswith(("/driver_gate_local.py",
                        "/gen_expected.py", "/check_expected.py",
                        "/make_stress.py", "/bench.py"))
            or a.rsplit("/", 1)[-1] in
            ("driver_gate_local.py", "gen_expected.py",
             "check_expected.py", "make_stress.py", "bench.py",
             "pytest")
            for a in argv)
        pytest_mod = is_python and any(
            argv[i] == "-m" and argv[i + 1] == "pytest"
            for i in range(len(argv) - 1))
        if spark_jvm or harness or pytest_mod:
            cmd = " ".join(argv)
            hits.append(f"pid {pid}: {cmd[:120]}")
    return hits


def _normalize(calibration: dict, prev: dict, timings: dict,
               total: float, this_sf) -> dict | None:
    """Build the `normalized` block for the bench record, or None when
    no trustworthy comparison exists. Contract (VERDICT r08 #3 +
    ADVICE r08): Spark walls are normalized by the SPARK probe ratio
    only; the numpy ratio is published alongside; when the two ratios
    diverge >1.5x the block carries probes_divergent=True and
    normalized_wall_unreliable=True so the corrected number can never
    be read as authoritative."""
    pc = prev.get("calibration") or {}
    # SAME-SF guard (code-review r08): the committed reference is
    # the solo sf0.1 record — normalizing a smoke run at another
    # SF against it would print an apples-to-oranges "normalized
    # wall vs ref" in the exact output built to be trustworthy.
    # Only the SPARK probe is REQUIRED on both sides (second review
    # pass r09): it is the sole normalizer, so a run whose numpy GEMM
    # failed must not silently lose the whole normalized block — the
    # numpy ratio is an optional guard on either side.
    if not (calibration.get("spark_hash_agg_sec")
            and prev.get("sf") == this_sf
            and pc.get("spark_hash_agg_sec")):
        return None
    r_spark = calibration["spark_hash_agg_sec"] / pc["spark_hash_agg_sec"]
    r_numpy = (calibration["numpy_gemm_sec"] / pc["numpy_gemm_sec"]
               if calibration.get("numpy_gemm_sec")
               and pc.get("numpy_gemm_sec") else None)
    speed_ratio = r_spark  # spark walls ← spark probe only
    # the numpy probe's own intra-run spread (either side) gates its
    # use in the divergence verdict (third review pass r09): a
    # one-off least-contended numpy min would otherwise poison the
    # cross-probe comparison in either direction
    numpy_unstable = bool(
        calibration.get("numpy_probe_spread", 1.0) > 1.5
        or pc.get("numpy_probe_spread", 1.0) > 1.5)
    divergent = bool(
        r_numpy and not numpy_unstable
        and max(r_spark, r_numpy) / min(r_spark, r_numpy) > 1.5)
    # intra-probe spread (second review pass r09): the code's own
    # comment says a large spread means host speed CHANGED during the
    # bench — so a correction built on the probe MIN (the single
    # least-contended moment) is suspect even when the two probes
    # agree. Consult the published spread on BOTH sides.
    spread_high = bool(
        calibration.get("spark_probe_spread", 1.0) > 1.5
        or pc.get("spark_probe_spread", 1.0) > 1.5)
    shared = [q for q in timings if q in prev.get("queries", {})]
    shared_now = sum(timings[q] for q in shared)
    shared_ref = sum(prev["queries"][q] for q in shared)
    normalized = {
        "speed_ratio_vs_ref": round(speed_ratio, 3),
        "normalizer": "spark_probe",
        "speed_ratio_spark_probe": round(r_spark, 3),
        "speed_ratio_numpy_probe": round(r_numpy, 3) if r_numpy else None,
        "probes_divergent": divergent,
        "numpy_probe_unstable": numpy_unstable,
        "probe_spread_high": spread_high,
        "normalized_wall": round(total / speed_ratio, 3),
        "ref_wall": prev.get("value"),
        "ref_n_queries": len(prev.get("queries", {})),
        "shared_n": len(shared),
        "shared_wall_now": round(shared_now, 3),
        "shared_wall_ref": round(shared_ref, 3),
        "shared_wall_now_normalized": round(shared_now / speed_ratio, 3),
    }
    if divergent or spread_high:
        normalized["normalized_wall_unreliable"] = True
    return normalized


def _record(total: float, queries: dict, sf, order_seed: int) -> dict:
    """The fields shared by the BENCH_DETAIL record and the stdout line.
    ``reps`` stamps the methodology: since round 11 a query whose first
    rep exceeds 2 s publishes the min of two reps, so a comparison that
    crosses that boundary must not read min-of-2 as a speedup."""
    return {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "order_seed": order_seed,
        "reps": "min2_slow",
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # load-honesty gate (VERDICT r03 #6): bench numbers are only
    # meaningful solo. When another Spark driver / gate / test run is
    # alive the output is STAMPED "contended" (and the canonical
    # BENCH_DETAIL.json sidecar is NOT overwritten) so an inflated run
    # can never masquerade as solo; SPARK_GRAFT_BENCH_STRICT=1 turns
    # the stamp into a refusal (exit 2) for local discipline. The
    # default stays stamp-not-refuse so the build driver's per-round
    # bench can never be lost to a stray process.
    foreign = _foreign_spark_drivers()
    if foreign:
        print("# WARNING bench contended — other Spark drivers alive:",
              file=sys.stderr)
        for h in foreign:
            print(f"#   {h}", file=sys.stderr)
        if os.environ.get("SPARK_GRAFT_BENCH_STRICT"):
            print("# refusing (SPARK_GRAFT_BENCH_STRICT=1)", file=sys.stderr)
            sys.exit(2)
    spark = get_spark("bench")
    registry = Q.queries()

    # Warm up the JVM / parquet footer cache with a trivial action.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # Machine-speed calibration (round 7, reworked round 9 per VERDICT
    # r08 #3): identical code measured 216 s vs 307 s solo on the SAME
    # day because the host slows over hours (proven by an A/B of the
    # unchanged previous-round tree — VERIFICATION_r07.md). Two
    # fixed-work probes give every record its own speed context: one
    # pure-JVM Spark aggregate (codegen + 32-way parallelism) and one
    # single-process numpy GEMM. The r08 driver window showed the two
    # probes can DISAGREE (spark 1.60x vs numpy 1.24x — they measure
    # different resources: JVM/thread-pool contention vs BLAS/memory
    # bandwidth), so since round 9 each probe is sampled at THREE
    # points across the bench (post-warmup / mid-loop / end), the
    # record publishes per-probe min + spread, and normalization of
    # Spark walls uses the SPARK probe only (the numpy probe stays as
    # a guard for mapInPandas/GEMM paths).
    probe_samples: dict[str, list[float]] = {"spark": [], "numpy": []}

    def _run_probes() -> None:
        # min-of-2 per sampling point: the first rep of a probe can
        # pay one-time codegen/JIT compile (measured 0.77 s vs 0.19 s
        # steady) — taking the min keeps each SAMPLE a host-speed
        # reading, so the published spread measures host drift across
        # the bench, not compiler warmup.
        try:
            import numpy as _np
            import pyspark.sql.functions as _F
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                # pmod keeps the running sum far from long overflow
                # (ANSI would abort on a raw 50M-hash sum)
                spark.range(0, 50_000_000, 1, 32).agg(
                    _F.sum(_F.pmod(_F.xxhash64("id"),
                                   _F.lit(1024)))).collect()
                best = min(best or 9e9, time.perf_counter() - t0)
            probe_samples["spark"].append(best)
            a = _np.ones((1024, 1024))
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                for _i in range(8):
                    a = a @ a % 7 + 1.0
                best = min(best or 9e9, time.perf_counter() - t0)
            probe_samples["numpy"].append(best)
        except Exception:  # noqa: BLE001 — calibration must never kill bench
            pass


    # Steady-state warmup: execute every headline query once at the
    # smallest SF (untimed). The plans generate the same whole-stage
    # codegen sources as at the target SF, so Janino compilation and JIT
    # happen here instead of inside the timed loop — the timings below
    # then measure execution, not one-time compiler latency. Disable
    # with SPARK_GRAFT_NO_WARMUP=1.
    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP_DIR",
                              "/root/testdata/sf0.001")
    if not os.environ.get("SPARK_GRAFT_NO_WARMUP") and os.path.isdir(warm_dir):
        t0 = time.perf_counter()
        for name in HEADLINE:
            (registry[name](spark, warm_dir)
             .write.format("noop").mode("overwrite").save())
        print(f"# warmup pass ({warm_dir}): "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
        # iterative queries plan differently at the target SF (AQE picks
        # other join strategies), so their whole-stage codegen would
        # otherwise compile inside the timed run (~1.5x first-run skew).
        # rf_holdout_metrics belongs here too: its scoring projection is
        # DATA-DEPENDENT codegen (the fitted forest renders to nested
        # CASE expressions), so the sf0.001 warmup compiles a different
        # forest — measured 13.8 s first-run vs 7.2 s steady at sf0.1
        for name in ("pagerank_suppliers", "dedup_clusters",
                     "kmeans_embeddings", "rf_holdout_metrics"):
            if name in HEADLINE:
                (registry[name](spark, sf_dir)
                 .write.format("noop").mode("overwrite").save())
        print(f"# warmup incl. target-SF iteratives: "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)

    # Drop caches persisted by warmup queries (several operators persist
    # intermediates; leaked blocks from 59 queries distort later timings
    # via heap pressure) and let each timed query pay for its own cache.
    spark.catalog.clearCache()

    # De-noising (optimization round 11, VERDICT r10 #3 — the host
    # shows random multi-second single-query spikes every round
    # [probe_spread_high in most committed records], and the driver's
    # top-5 PERF comparison keeps turning one spike into a false
    # "regressed" row):
    # 1. the execution ORDER is a seeded random permutation — a fixed
    #    registry order pins each query to the same host-moment slot
    #    every round, correlating its noise round-over-round. The seed
    #    (env SPARK_GRAFT_BENCH_SEED, else wall-clock derived) is
    #    printed in the record as "order_seed" so any run can be
    #    reproduced exactly.
    # 2. a query whose first rep exceeds SLOW_REP_SEC gets ONE re-run
    #    and publishes the min — a spike is a property of the host
    #    moment, not the plan, and min-of-2 suppresses it at ~2%
    #    added suite cost. The first-rep walls are kept in the detail
    #    sidecar ("first_rep_sec") so the old single-rep methodology's
    #    numbers remain available alongside.
    # Neither measure changes WHAT is computed: every rep re-runs the
    # full query from the parquet inputs with caches cleared.
    SLOW_REP_SEC = 2.0
    seed_raw = os.environ.get("SPARK_GRAFT_BENCH_SEED")
    try:
        order_seed = int(seed_raw) if seed_raw is not None else None
    except ValueError:
        # never silently substitute a different order for a run the
        # user meant to reproduce (repo env-knob convention)
        print(f"# SPARK_GRAFT_BENCH_SEED={seed_raw!r} invalid (need an "
              "int); using a wall-clock seed instead — this run's "
              "order will NOT match the one you meant to reproduce",
              file=sys.stderr)
        order_seed = None
    if order_seed is None:
        order_seed = int(time.time()) % 1_000_000
    import random as _random
    order = list(HEADLINE)
    _random.Random(order_seed).shuffle(order)
    print(f"# order_seed: {order_seed}", file=sys.stderr)

    def _run_once(name: str) -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = registry[name](spark, sf_dir)
        # noop sink, not count(): count() lets Catalyst elide windows
        # and projections that don't change cardinality, under-timing
        # transform-shaped queries — the noop write evaluates every
        # column of every row
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    timings: dict[str, float] = {}
    first_rep: dict[str, float] = {}
    _run_probes()  # sample 1: immediately before the timed loop
    for i, name in enumerate(order):
        if i == len(order) // 2:
            _run_probes()  # sample 2: mid-loop (probe time untimed)
        t1 = _run_once(name)
        if t1 > SLOW_REP_SEC:
            first_rep[name] = t1
            t1 = min(t1, _run_once(name))
        timings[name] = t1
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)
    _run_probes()  # sample 3: end of loop

    total = round(sum(timings.values()), 3)

    # Per-probe min is the speed estimate (least-contended moment);
    # spread = max/min over the 3 samples is the honesty signal — a
    # large spread means the host speed CHANGED during the bench and
    # any single correction factor is suspect.
    calibration = {}
    if probe_samples["spark"]:
        calibration["spark_hash_agg_sec"] = round(
            min(probe_samples["spark"]), 3)
        calibration["spark_probe_spread"] = round(
            max(probe_samples["spark"]) / min(probe_samples["spark"]), 3)
        calibration["spark_probe_samples"] = [
            round(s, 3) for s in probe_samples["spark"]]
    if probe_samples["numpy"]:
        calibration["numpy_gemm_sec"] = round(
            min(probe_samples["numpy"]), 3)
        calibration["numpy_probe_spread"] = round(
            max(probe_samples["numpy"]) / min(probe_samples["numpy"]), 3)
        calibration["numpy_probe_samples"] = [
            round(s, 3) for s in probe_samples["numpy"]]

    # Calibration APPLIED (VERDICT r07 #3, reworked r09 per VERDICT
    # r08 #3 + ADVICE r08): normalize this wall against the previous
    # committed record so a host-slowdown episode is self-diagnosing.
    # HONEST-READING RULE: Spark walls are normalized by the SPARK
    # probe ratio ONLY — the probes measure different resources, and
    # the r08 window proved averaging them over-corrects when they
    # disagree. The numpy ratio is still published as the guard for
    # mapInPandas/GEMM-heavy paths. When the two ratios diverge by
    # >1.5x (either direction), `probes_divergent` is set and
    # `normalized_wall` carries an explicit `_unreliable` marker: read
    # the RAW wall plus the per-probe ratios instead of trusting one
    # corrected number. speed_ratio > 1 means THIS host-moment is
    # slower than the reference run; normalized_wall =
    # wall * probe_ref/probe_now expresses this round's work in
    # reference-machine seconds.
    normalized = None
    here = os.path.dirname(os.path.abspath(__file__))
    sf_tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    this_sf = float(sf_tag) if sf_tag.replace(".", "").isdigit() else sf_tag
    try:
        with open(os.path.join(here, "BENCH_DETAIL.json")) as f:
            prev = json.load(f)
        normalized = _normalize(calibration, prev, timings, total, this_sf)
        if normalized:
            r_spark = normalized["speed_ratio_spark_probe"]
            r_numpy = normalized["speed_ratio_numpy_probe"]
            if normalized["probes_divergent"]:
                flag = (" [UNRELIABLE: probes diverge "
                        f"{r_spark:.2f}x vs {r_numpy:.2f}x — "
                        "read raw wall]")
            elif normalized.get("probe_spread_high"):
                flag = (" [UNRELIABLE: probe spread >1.5x within a "
                        "run — host speed changed mid-bench, read "
                        "raw wall]")
            else:
                flag = ""
            print(f"# calibration: spark probe "
                  f"{normalized['speed_ratio_vs_ref']:.3f}x the "
                  f"reference run's speed-context; normalized wall "
                  f"{normalized['normalized_wall']}s{flag} vs ref "
                  f"{prev.get('value')}s "
                  f"({normalized['shared_n']} shared queries: "
                  f"{normalized['shared_wall_now_normalized']}s "
                  f"normalized vs {normalized['shared_wall_ref']}s)",
                  file=sys.stderr)
    except (OSError, json.JSONDecodeError, ZeroDivisionError, KeyError):
        pass

    sf_val = this_sf
    # Full per-query detail goes to stderr and a sidecar file; the ONE
    # stdout JSON line stays compact (the driver captures a bounded tail
    # of stdout — an 83-entry dict pushed "value" out of the r01 capture
    # window and left "parsed": null). The compact line keeps the
    # contract keys and the 5 slowest queries.
    # record dicts in fixed HEADLINE order regardless of the shuffled
    # execution order, so round-over-round BENCH_DETAIL diffs show
    # value changes, not a fresh 232-key permutation; order_seed is
    # the provenance of the actual execution order
    detail = _record(total, {k: timings[k] for k in HEADLINE}, sf_val,
                     order_seed)
    if first_rep:
        # single-rep walls of the re-run (>SLOW_REP_SEC) queries — the
        # pre-round-11 methodology's numbers, kept alongside the
        # published min-of-2
        detail["first_rep_sec"] = {k: first_rep[k] for k in HEADLINE
                                   if k in first_rep}
    if foreign:
        detail["contended"] = foreign
    if calibration:
        detail["calibration"] = calibration
    if normalized:
        detail["normalized"] = normalized
    print(json.dumps(detail), file=sys.stderr)
    # sidecar detail is the committed record of the driver's default
    # tier — only overwrite it for SOLO sf0.1 runs, so neither a smoke
    # at another SF nor a contended run can clobber canonical numbers
    if sf_val == 0.1 and not foreign:
        try:
            here = os.path.dirname(os.path.abspath(__file__))
            with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
                json.dump(detail, f, indent=1)
        except OSError:
            pass
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    compact = dict(_record(total, slowest, sf_val, order_seed),
                   n_queries=len(timings))
    if foreign:
        compact["contended"] = True
    if calibration:
        compact["calibration"] = calibration
    if normalized:
        compact["normalized"] = normalized
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
