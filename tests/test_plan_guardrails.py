"""Global physical-plan guardrails over EVERY registered query.

The per-operator plan audits (test_plans.py etc.) assert specific
optimizations; this sweep asserts the engine-wide invariants:

- no row-at-a-time Python (BatchEvalPython) anywhere — Python only
  enters via Arrow-batched kernels, and only in the operators that
  genuinely need numpy (ANN / simhash / windowed near-dup families);
- no CartesianProduct, ever;
- BroadcastNestedLoopJoin only where it is the DESIGN: broadcast
  scalar/tiny-dim attaches (weekly index frames, window dims, global
  thresholds) and the declared-exact brute-force ANN baseline.

A new operator that accidentally introduces a Python UDF or an
unconstrained join fails this sweep by default — additions to the
allowlists must be argued in the diff.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from ojo_daps_mirror_spark import plans

plans.load_all()

# Arrow-batched Python kernels: the numpy escape hatches only.
ARROW_OK = {
    "ann_topk_blocked",
    "knn_label_eval",
    "contrastive_pair_mining",
    "rag_chunking_udtf",  # arrow-optimized UDTF by design (API-surface twin of C46)
    "ann_ivf",
    "ann_lsh_bucketed",
    "ann_pq_adc",
    "dedup_simhash",
    "embedding_dedup_graph",
    "multimodal_decode",
    "media_dedup_phash",  # fingerprint kernel over the binary column (pHash slot)
    "near_dup_adaptive",
    "near_dup_cosine",
    "near_dup_windowed",
    "neardup_transitivity_audit",  # edges via A13's block-pair BLAS kernel (r5 audit fix)
    "pq_encode",
    "semdedup",
    "text_dedup_pipeline",
    "vectorise_stub",
    "matryoshka_recall",  # streaming-BLAS prefix-dim top-k kernel (C53's shape)
    "dedup_method_agreement",  # composes C6's Arrow simhash signature kernel
    "embedding_pca_top",  # one-pass dim^2 moment partials (the _pq_train trainer shape)
    "hubness_audit",  # A13's block-pair BLAS kernel, block-local top-k merge
}

# BroadcastNestedLoopJoin: broadcast scalar / tiny-dim attaches with
# range or true predicates, plus the declared brute-force ANN baseline.
BNLJ_OK = {
    # After round 3's attach_scalars conversion (92 broadcast
    # crossJoins now plan as BroadcastHashJoin), every remaining
    # BNLJ is a CONDITIONED broadcast join (range/substring/banded
    # predicates on dimension frames) or a declared exact all-pairs
    # baseline. Additions must be argued here.
    "acf_weekly_volume",  # banded self-join of the |weeks| dim (range cond)
    "ann_topk_bruteforce",  # exact all-pairs baseline BY DESIGN
    "bm25_ranking",  # broadcast 1-row corpus-stats attach
    "bootstrap_ci_mean",  # broadcast 1-row CI-quantile attach
    "chain_ladder",  # broadcast <=6-row dev-factor dim, range condition
    "exact_median_two_pass",  # 2-row order-statistic positions × |buckets| hist
    "hilbert_key",  # 4-adjacency self-join of the bounded (≤4096) cell dim
    "hodges_lehmann",  # banded |weeks|-dim self-join (wa<=wb) + 1-row attach
    "hoeffdings_d",  # |weeks|-dim all-pairs concordance scan
    "hubness_audit",  # exact k-occurrence needs the true top-k graph
    "incremental_stock_refresh",  # same fill_and_index broadcast index attach
    "intrinsic_dim_mle",  # declared all-pairs eval harness (C8's contract)
    "kmeans_lloyd",  # broadcast K-row codebook attach per Lloyd round
    "lexical_semantic_agreement",  # declared all-pairs eval harness (C8's contract)
    "mann_kendall_trend",  # banded |weeks|-dim self-join + 1-row attaches
    "max_consensus_line",  # |weeks|-dim candidate x point residual grid
    "minhash_jaccard_vs_exact",  # |sources|-dim pair grid (est vs exact)
    "ndcg_eval",  # declared all-pairs eval harness (C8's contract)
    "node_affinity_audit",  # lexicon x communities dense affinity grid zero-fill (the reference's matrix shape, cluster_utils.py:437)
    "cluster_affinity_audit",  # same grid (shared _affinity_grid), aggregated to communities^2
    "neardup_transitivity_audit",  # exact threshold edge set
    "onebit_retrieval_agreement",  # exact cosine + Hamming top-k twins
    "pacf_durbin_levinson",  # banded |weeks|-dim self-join (acf's shape)
    "retrieval_mrr",  # declared all-pairs eval harness (C8's contract)
    "sen_slope_ci",  # |weeks|-dim all-pairs slope grid + rank-CI pick
    "siegel_repeated_medians",  # |weeks|-dim all-pairs slope grid
    "soc_substring_match",  # broadcast lexicon, substring predicate
    "theil_sen_trend",  # broadcast 1-row slope frame onto the |weeks| dim
    "tukey_hsd",  # 5-row group-dim self-join (10 pairs) + 1-row MSW attach
    "vocab_overlap_matrix",  # |sources|-dim pair grid zero-fill
    "weekly_locs_vacancies",  # broadcast Monday index frame
    "weekly_soc_vacancies",  # broadcast Monday index frame
    "weekly_stock",  # broadcast Monday index frame
    "weekly_stock_by_region",  # broadcast Monday index frame
}

BATCH_KEYS = sorted(k for k in plans.QUERIES if not k.startswith("streaming"))


@pytest.fixture(scope="module")
def all_plans(spark, sf_dir):
    out = {}
    for key in BATCH_KEYS:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            plans.QUERIES[key](spark, sf_dir).explain("formatted")
        out[key] = buf.getvalue()
    return out


def test_no_row_at_a_time_python_anywhere(all_plans):
    offenders = [k for k, p in all_plans.items() if "BatchEvalPython" in p]
    assert not offenders, offenders


def test_no_cartesian_product_anywhere(all_plans):
    offenders = [k for k, p in all_plans.items() if "CartesianProduct" in p]
    assert not offenders, offenders


def test_arrow_python_only_in_numpy_operators(all_plans):
    offenders = [
        k
        for k, p in all_plans.items()
        if "ArrowEvalPython" in p or "MapInPandas" in p or "FlatMapGroupsInPandas" in p
    ]
    unexpected = set(offenders) - ARROW_OK
    assert not unexpected, sorted(unexpected)


def test_bnlj_only_where_designed(all_plans):
    offenders = [
        k for k, p in all_plans.items() if ") BroadcastNestedLoopJoin" in p
    ]
    unexpected = set(offenders) - BNLJ_OK
    assert not unexpected, sorted(unexpected)


# Unpartitioned (global-order) windows: every entry below was audited —
# the frame entering the window is DIMENSION-scale (a |weeks|/|days|/
# |cells|/value-ladder/stat-cell aggregate, a top-k survivor frame from
# orderBy+limit, or a bounded grid), never the raw fact/corpus rows.
# Values are the audited COUNT of such windows per op: a plan change
# that adds one fails the sweep and must be argued here, and an op
# ranking a data-grain frame belongs on operators/rank.py
# (global_order_stats / attach_prev / ntile_from_rank), not here.
# Regenerate with scripts/window_sweep.py.
DIMENSION_SCALE_WINDOWS = {
    "abc_classification": 1,
    "abc_xyz_matrix": 3,
    "anderson_darling": 1,
    "backfill_plan": 1,
    "background_cosine_null": 4,
    "background_jaccard_null": 4,
    "batch_means_ci": 2,
    "bca_bootstrap_ci": 1,
    "benford_profile": 1,
    "bradley_terry_brands": 2,
    "bullwhip_ratio": 2,
    "burrows_delta": 1,
    "char_ngram_langid": 1,
    "chi_square_independence": 2,
    "competing_risks_cif": 4,
    "consensus_partition_select": 1,
    "cramer_von_mises": 1,
    "cramers_v_matrix": 1,
    "cucconi_test": 1,
    "curriculum_interleave": 1,
    "cusum_changepoints": 2,
    "dedup_mixture_shift": 1,
    "delta_encoding_audit": 2,
    "dhondt_shard_allocation": 2,
    "diebold_mariano": 1,
    "dsir_importance": 1,
    "durbin_watson": 2,
    "eb_shrinkage_rates": 3,
    "engle_granger_coint": 3,
    "ewma_weekly_volume": 1,
    "exact_median_two_pass": 1,
    "expected_shortfall": 3,
    "fdr_bh_correction": 3,
    "fligner_killeen": 2,
    "g_test_independence": 1,
    "generalized_esd": 2,
    "getis_ord_hotspots": 1,
    "growth_accounting": 1,
    "grubbs_test": 2,
    "hill_tail_index": 1,
    "holm_bonferroni": 3,
    "holt_linear_smoothing": 1,
    "holt_winters_daily": 1,
    "hurst_rs": 2,
    "hybrid_search_rrf": 2,
    "importance_weight_ess": 1,
    "inclan_tiao_variance_break": 4,
    "incremental_stock_refresh": 1,
    "jackknife_cluster_se": 1,
    "jonckheere_terpstra": 1,
    "kaplan_meier_retention": 4,
    "km_greenwood_ci": 5,
    "kmeans_lloyd": 1,
    "kmv_distinct_sketch": 1,
    "kpss_stationarity": 2,
    "kruskal_wallis": 2,
    "ks_test_two_sample": 2,
    "kupiec_pof_test": 3,
    "lift_table": 2,
    "linear_trend_forecast": 1,
    "little_law_audit": 1,
    "ljung_box_q": 2,
    "logrank_test": 3,
    "lorenz_deciles": 2,
    "mann_whitney_u": 1,
    "markov_attribution": 1,
    "max_consensus_line": 3,
    "mean_residual_life": 1,
    "memorization_risk_audit": 1,
    "mood_median_test": 2,
    "mutual_information_features": 2,
    "near_dup_source_matrix": 1,
    "negative_sampling_table": 1,
    "nelson_aalen_hazard": 4,
    "neyman_allocation": 1,
    "oov_rate_by_source": 1,
    "otsu_length_threshold": 2,
    "pacf_durbin_levinson": 1,
    "panel_fe_elasticity": 1,
    "pareto_frontier": 1,
    "pareto_knee_point": 3,
    "period_over_period": 1,
    "periodogram_peaks": 3,
    "pettitt_test": 4,
    "piecewise_trend_break": 5,
    "poly_curvature_ftest": 1,
    "post_stratified_mean": 1,
    "ppcc_normality": 2,
    "qini_uplift_curve": 1,
    "ql_dirichlet_ranking": 1,
    "quantile_normalization": 1,
    "range_partition_plan": 2,
    "rerank_stub": 2,
    "rfm_features": 3,
    "rmst_summary": 5,
    "roc_auc_points": 2,
    "rolling_beta": 1,
    "rolling_origin_backtest": 3,
    "runs_test": 2,
    "seasonal_anomaly_flags": 1,
    "seasonal_decompose": 1,
    "seasonal_strength_dow": 3,
    "sen_slope_ci": 3,
    "session_path_analysis": 1,
    "shapley_attribution": 1,
    "siegel_repeated_medians": 1,
    "skills_by_soc_snapshot": 1,
    "skills_surface_forms": 1,
    "source_concentration": 4,
    "spearman_rho": 3,
    "spectral_entropy": 2,
    "split_leakage_audit": 1,
    "sprt_sequential_test": 2,
    "suffix_lcp_boilerplate": 1,
    "t_closeness_audit": 2,
    "tail_dependence": 3,
    "temperature_mixing": 1,
    "threshold_sensitivity_audit": 1,
    "time_decayed_popularity": 1,
    "token_budget_waterfill": 1,
    "token_position_profile": 1,
    "top_revenue_supplier": 1,
    "top_with_other_rollup": 1,
    "training_mixture_manifest": 1,
    "tukey_nonadditivity": 1,
    "turning_point_test": 2,
    "variance_ratio_test": 2,
    "vocab_coverage_curve": 1,
    "vocab_encode": 1,
    "wasserstein_1d": 2,
    "weekly_stock": 1,
    "weighted_reservoir_sample": 1,
    "xcorr_lead_lag": 1,
    "zipf_mandelbrot_grid": 2,
    "zipf_slope_fit": 1,
}


def test_unpartitioned_windows_only_on_dimension_frames(all_plans):
    from ojo_daps_mirror_spark.planaudit import unpartitioned_windows

    bad = {}
    for k, p in all_plans.items():
        c = unpartitioned_windows(p)
        if c > DIMENSION_SCALE_WINDOWS.get(k, 0):
            bad[k] = (c, DIMENSION_SCALE_WINDOWS.get(k, 0))
    assert not bad, (
        "unpartitioned Window over an unaudited frame (count > allowed): "
        f"{sorted(bad.items())}"
    )


def test_rank_pid_exemption_is_order_spec_exact():
    # the exemption must NOT fire for a window that merely CARRIES the
    # pid column (e.g. a data-grain window added between tagging and
    # dropping the key) — only for one ordered by exactly the pid.
    from ojo_daps_mirror_spark.planaudit import unpartitioned_windows

    exempt = (
        "(5) Window\nInput [2]: [__rank_pid__#6L, g#1L]\n"
        "Arguments: [sum(g#1L) windowspecdefinition(__rank_pid__#6L ASC "
        "NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(),"
        " -1)) AS off#7L], [__rank_pid__#6L ASC NULLS FIRST]\n"
    )
    carried = (
        "(5) Window\nInput [2]: [__rank_pid__#6L, ts#1L]\n"
        "Arguments: [lag(__rank_pid__#6L, 1, null) windowspecdefinition("
        "ts#1L ASC NULLS FIRST, specifiedwindowframe(RowFrame, -1, -1)) "
        "AS prev#7L], [ts#1L ASC NULLS FIRST]\n"
    )
    assert unpartitioned_windows(exempt) == 0
    assert unpartitioned_windows(carried) == 1


# ------------------------------------------------------------------
# Fixed-FRACTION driver collects (the knn_label_eval r3 regression
# class): a `% <CONST> == 0` subset filter feeding `.collect()` /
# `.toPandas()` without a fixed-count `.limit(k)` cap collects O(n)
# rows to the driver at 100 TB. Driver-bound query panels must route
# through vector_plans.query_panel (ORDER BY + LIMIT).


def test_no_fraction_collects_in_plan_sources():
    import pathlib

    from ojo_daps_mirror_spark.planaudit import fraction_collects

    plans_dir = pathlib.Path(plans.__file__).parent
    bad = {}
    for f in sorted(plans_dir.glob("*.py")):
        hits = fraction_collects(f.read_text())
        if hits:
            bad[f.name] = hits
    assert not bad, f"uncapped %-subset driver collects: {bad}"


def test_fraction_collect_detector_catches_seeded_regressions():
    from ojo_daps_mirror_spark.planaudit import fraction_collects

    direct = (
        "def f(emb):\n"
        "    rows = emb.where(F.col('vec_id') % MOD == 0)"
        ".select('e').collect()\n"
        "    return rows\n"
    )
    via_var = (
        "def f(emb):\n"
        "    q = emb.filter(F.col('vec_id') % 5 == 0)\n"
        "    pdf = q.select('e').toPandas()\n"
        "    return pdf\n"
    )
    capped = (
        "def f(emb):\n"
        "    rows = emb.where(F.col('vec_id') % MOD == 0)"
        ".orderBy('vec_id').limit(64).collect()\n"
        "    return rows\n"
    )
    no_mod = (
        "def f(dim):\n"
        "    return dim.groupBy('k').count().collect()\n"
    )
    assert fraction_collects(direct) == [2]
    assert fraction_collects(via_var) == [3]
    assert fraction_collects(capped) == []
    assert fraction_collects(no_mod) == []
