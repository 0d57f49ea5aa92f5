"""Building a registry query is plan-only where no pin pays: a builder
whose pins a measurement showed to cost more than they save builds a
lazy plan, so a repeat build and a plan audit run no Spark job."""

from __future__ import annotations

import re

import pytest

from tests.conftest import REPO, SF_SMOKE, run_in_job_group

# builders that ran their pins at build time and now run no job there
DEPINNED = (
    "audience_overlap_jaccard",
    "basket_rules_lift",
    "bloom_fpr_audit",
    "bm25_topk_docs",
    "bm25f_fielded_topk",
    "cliffs_delta_effect",
    "cohort_ltv_curve",
    "cox_stuart_trend",
    "dau_mau_stickiness",
    "dedup_bloom_prefilter",
    "dq_expectations_report",
    "dunns_pairwise_z",
    "er_threshold_quality",
    "funnel_with_timeouts",
    "gaps_islands_order_days",
    "gradient_boost_stumps",
    "graph_jaccard_link_prediction",
    "hurst_rescaled_range",
    "impute_missing_values",
    "isotonic_regression_pav",
    "item_item_cosine_topk",
    "kendall_tau_daily",
    "ljung_box_q",
    "mad_outliers",
    "mann_kendall_trend",
    "map_mrr_eval",
    "mixture_temperature_weights",
    "mutual_information_discrete",
    "pacf_durbin_levinson",
    "pages_l_trend",
    "pattern_vshape_runs",
    "pettitt_changepoint",
    "privacy_t_closeness",
    "query_likelihood_dirichlet",
    "rocchio_relevance_vector",
    "scd2_late_correction",
    "secretary_stopping_rule",
    "shapley_attribution_paths",
    "sprt_sequential_test",
    "stream_eviction_twin",
    "target_encoding_loo",
    "token_pmi_bigrams",
    "vintage_default_curves",
    "water_filling_allocation",
    "weibull_median_rank_fit",
    "xyz_volatility_classes",
)


@pytest.mark.parametrize("name", DEPINNED)
def test_depinned_builder_runs_no_job_when_built(spark, name):
    """The first build may infer table schemas; a second build and a
    plan_summary of it run no Spark job."""
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.queries import QUERIES

    run_in_job_group(spark, lambda: QUERIES[name](spark, SF_SMOKE))
    df, build_jobs = run_in_job_group(spark, lambda: QUERIES[name](spark, SF_SMOKE))
    _, plan_jobs = run_in_job_group(spark, lambda: plan_summary(df))
    assert (build_jobs, plan_jobs) == ([], []), name


def test_registry_materializes_only_through_pin():
    """A registry builder cuts lineage only with session.pin, so
    SPARK_GRAFT_RELIABLE_CHECKPOINT reaches every such cut."""
    raw = re.compile(r"\.(localCheckpoint|checkpoint|persist)\(")
    hits = [
        f"{p.name}:{i}"
        for p in sorted((REPO / "etl_mini_spark" / "queries").glob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if raw.search(line)
    ]
    assert not hits, hits
