"""Non-vacuity pins for the round-10 tier (oracle equivalence is
verified by tests/test_queries_oracle.py): bounds, conservation laws, monotonicity, and
exact-identity checks so no entry can go green as a degenerate
constant. Migrated unchanged from the staging harness at
registration (the rounds-7/8/9 two-step)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def _registry():
    from etl_mini_spark.queries import QUERIES

    return QUERIES


PENDING = _registry()


def test_spearman_bounded(spark):
    row = PENDING["spearman_rank_corr"](spark, SF_SMOKE).collect()[0]
    assert -1.0 <= row["spearman_rho"] <= 1.0
    assert row["n"] > 100


def test_mwu_u_in_range(spark):
    row = PENDING["mann_whitney_u"](spark, SF_SMOKE).collect()[0]
    assert 0 <= row["u1"] <= row["n1"] * row["n2"]
    assert abs(row["z"]) < 50


def test_anova_components(spark):
    row = PENDING["anova_oneway_f"](spark, SF_SMOKE).collect()[0]
    assert row["k"] == 5
    assert row["ssb"] >= 0 and row["ssw"] > 0 and row["f_stat"] >= 0


def test_durbin_watson_range(spark):
    row = PENDING["durbin_watson_autocorr"](spark, SF_SMOKE).collect()[0]
    assert 0.0 < row["dw"] < 4.0


def test_eta_squared_bounded(spark):
    row = PENDING["seasonal_strength_eta"](spark, SF_SMOKE).collect()[0]
    assert 0.0 <= row["eta_sq"] <= 1.0


def test_holt_seeds_and_smooths(spark):
    rows = PENDING["holt_linear_trend"](spark, SF_SMOKE).orderBy("event_type", "d").collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    assert len(by_type) == 5
    for series in by_type.values():
        # day-1 level seeds at the raw value => fitted_1 == level_1
        assert series[0]["fitted"] == series[0]["level"]
        # the trend component must actually move (not a degenerate EMA)
        assert any(abs(r["trend"]) > 1e-9 for r in series[1:])


def test_holt_single_point_series_dropped(spark, tmp_path):
    """A series with exactly ONE observation has no defined trend
    (b1 = x2 - x1 needs the future point). All three Holt paths agree
    on dropping it: the recursive-CTE oracle's base case requires i=2,
    the incremental sink withholds day 1 until day 2 arrives, and the
    batch applyInPandas returns empty for <2-point groups (ADVICE r9)."""
    import datetime as dt

    import pandas as pd

    rows = [
        # 'solo': one day only — must NOT appear in the output
        (1, dt.datetime(2024, 1, 1, 9), 10, "solo", 5.0, "{}"),
        # 'pair': three days — normal recursion
        (2, dt.datetime(2024, 1, 1, 9), 11, "pair", 1.0, "{}"),
        (3, dt.datetime(2024, 1, 2, 9), 11, "pair", 2.0, "{}"),
        (4, dt.datetime(2024, 1, 3, 9), 11, "pair", 4.0, "{}"),
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(tmp_path / "events.parquet", index=False)
    out = PENDING["holt_linear_trend"](spark, str(tmp_path)).collect()
    types = {r["event_type"] for r in out}
    assert types == {"pair"}, f"1-point series must be dropped, got {types}"
    assert len(out) == 3
    # seed check: level_1 = x1, trend_1 = x2 - x1, fitted_1 = x1
    first = sorted(out, key=lambda r: r["d"])[0]
    assert first["level"] == 1.0 and first["trend"] == 1.0 and first["fitted"] == 1.0


def test_ltv_curves_nondecreasing(spark):
    rows = PENDING["cohort_ltv_curve"](spark, SF_SMOKE).collect()
    curves: dict = {}
    for r in rows:
        curves.setdefault((r["cohort_y"], r["cohort_m"]), []).append((r["age"], r["ltv_per_cust"]))
    assert curves
    for pts in curves.values():
        pts.sort()
        vals = [v for _, v in pts]
        assert vals == sorted(vals)  # cumulative LTV can never decrease


def test_histogram2d_shares_sum(spark):
    rows = PENDING["histogram2d_margins"](spark, SF_SMOKE).collect()
    assert abs(sum(r["cell_share"] for r in rows) - 1.0) < 1e-3
    by_v: dict = {}
    for r in rows:
        by_v.setdefault(r["vband"], 0.0)
        by_v[r["vband"]] += r["row_share"]
    assert all(abs(s - 1.0) < 1e-3 for s in by_v.values())


def test_confusion_monotone_in_threshold(spark):
    rows = PENDING["confusion_matrix_thresholds"](spark, SF_SMOKE).orderBy("thr").collect()
    assert [r["thr"] for r in rows] == [300, 500, 700]
    pos = {r["tp"] + r["fn"] for r in rows}
    assert len(pos) == 1  # actual positives invariant across thresholds
    tps = [r["tp"] for r in rows]
    assert tps == sorted(tps, reverse=True)  # raising thr can only lose TPs


def test_hash_collision_consistency(spark):
    row = PENDING["feature_hash_collision_audit"](spark, SF_SMOKE).collect()[0]
    assert row["occupied"] <= min(256, row["vocab"])
    assert row["collided"] == row["vocab"] - row["occupied"]
    assert 0 < row["expected_occupied"] <= 256


def test_bm25_ranked_and_positive(spark):
    rows = PENDING["bm25_topk_docs"](spark, SF_SMOKE).collect()
    assert len(rows) == 20
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert scores[-1] > 0


def test_char_ngram_profile_shape(spark):
    rows = PENDING["char_ngram_profile"](spark, SF_SMOKE).collect()
    langs = {r["lang"] for r in rows}
    assert langs
    for lang in langs:
        sub = [r for r in rows if r["lang"] == lang]
        assert [r["rn"] for r in sub] == list(range(1, len(sub) + 1))
        ns = [r["n"] for r in sub]
        assert ns == sorted(ns, reverse=True)
        assert all(len(r["tri"]) == 3 for r in sub)


def test_regex_extract_all_consistency(spark):
    import re

    rows = PENDING["regex_extract_all_suite"](spark, SF_SMOKE).collect()
    assert rows
    pat = re.compile(r"^[a-z]{5,}$")
    for r in rows:
        if r["n_matches"] > 0:
            assert pat.match(r["first_match"]) and pat.match(r["last_match"])


def test_degree_histogram_cumulates_to_one(spark):
    rows = PENDING["graph_degree_histogram"](spark, SF_SMOKE).orderBy("degree").collect()
    assert rows and rows[-1]["cum_share"] == 1.0
    shares = [r["cum_share"] for r in rows]
    assert shares == sorted(shares)


def test_pvm_effects_bridge_the_delta(spark):
    row = PENDING["price_volume_mix_decomp"](spark, SF_SMOKE).collect()[0]
    bridge = row["price_effect"] + row["volume_effect"] + row["cross_effect"]
    assert abs((row["rev1"] - row["rev0"]) - bridge) < 1.0  # exact identity up to 2dp rounding


def test_checksums_distinguish_tables(spark):
    rows = {r["tbl"]: r for r in PENDING["table_row_checksum"](spark, SF_SMOKE).collect()}
    assert set(rows) == {"events", "orders"}
    assert rows["events"]["checksum"] != rows["orders"]["checksum"]
    assert all(r["n_rows"] > 0 and r["checksum"].isdigit() for r in rows.values())


def test_skew_advisor_sane(spark):
    row = PENDING["partition_skew_advisor"](spark, SF_SMOKE).collect()[0]
    assert row["skew_ratio"] >= 1.0
    assert row["salt_factor"] >= 1
    import math

    assert row["salt_factor"] == math.ceil(row["max_day"] * row["n_days"] / row["total_rows"])


def test_erasure_conserves_and_cleans(spark):
    rows = PENDING["privacy_erasure_audit"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["n_before"] - r["n_erased"] == r["n_after"]
        assert r["clean"] is True
    assert sum(r["n_erased"] for r in rows) > 0  # tombstone set must be non-empty


def test_lead_percentiles_ordered(spark):
    rows = PENDING["shipping_lead_percentiles"](spark, SF_SMOKE).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["p50_days"] <= r["p90_days"] <= r["p99_days"]


def test_distinct_on_one_row_per_user(spark):
    from etl_mini_spark.session import load_table

    rows = PENDING["sql_distinct_on"](spark, SF_SMOKE).collect()
    n_users = load_table(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    assert len(rows) == n_users
    assert len({r["user_id"] for r in rows}) == n_users


def test_fixed_width_exact_row(spark):
    rows = {r["id"]: r for r in PENDING["fixed_width_parse"](spark, SF_SMOKE).collect()}
    assert len(rows) == 6
    assert rows[1]["name"] == "Smith" and rows[1]["amount"] == 123.45
    assert rows[1]["d"] == "2024-01-05"
    assert rows[4]["amount"] == 9.99


def test_json_array_nested_access(spark):
    rows = {r["id"]: r for r in PENDING["json_multiline_array_read"](spark, SF_SMOKE).collect()}
    assert len(rows) == 5
    assert rows[4]["first_tag"] == "red" and rows[4]["n_tags"] == 3
    assert rows[3]["n_tags"] == 0 and rows[3]["first_tag"] is None
    assert rows[5]["meta_k"] == 50


def test_heaps_beta_in_open_interval(spark):
    row = PENDING["corpus_heaps_law"](spark, SF_SMOKE).collect()[0]
    assert 0.0 < row["heaps_beta"] < 1.0
    assert row["vocab"] > 100
    assert row["heaps_k"] > 0


def test_interarrival_ratio_bounded(spark):
    rows = PENDING["event_interarrival_expfit"](spark, SF_SMOKE).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["mean_gap_s"] > 0 and r["median_gap_s"] >= 0
        assert 0.0 <= r["med_mean_ratio"] < 2.0


def test_stream_holt_matches_batch_exactly(spark):
    """The incremental foreachBatch Holt must reproduce the registered
    batch recursion BIT-FOR-BIT (state restart = same IEEE sequence) —
    the whole claim of incremental stateful maintenance."""
    inc = PENDING["stream_holt_incremental"](spark, SF_SMOKE).collect()
    bat = PENDING["holt_linear_trend"](spark, SF_SMOKE).collect()
    assert [tuple(r) for r in inc] == [tuple(r) for r in bat]
    assert len(inc) == 150  # 5 series x 30 days


def test_bounce_rate_bounded_and_daily(spark):
    rows = PENDING["session_bounce_rate"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_bounces"] <= r["n_sessions"]
        assert 0.0 <= r["bounce_rate"] <= 1.0


def test_hapax_consistent(spark):
    row = PENDING["text_hapax_ratio"](spark, SF_SMOKE).collect()[0]
    assert 0 < row["n_hapax"] <= row["n_types"] <= row["n_tokens"]
    assert 0.0 < row["hapax_share"] < 1.0
    assert 0.0 < row["type_token_ratio"] < 1.0


def test_levene_positive(spark):
    row = PENDING["levene_brown_forsythe"](spark, SF_SMOKE).collect()[0]
    assert row["k"] == 5 and row["n"] > 500
    assert row["levene_w"] >= 0


def test_rolling_beta_sane(spark):
    rows = PENDING["rolling_regression_slope"](spark, SF_SMOKE).collect()
    assert rows  # at least one complete 14-day frame
    assert all(abs(r["beta"]) < 1e3 for r in rows)


def test_wow_movers_shape(spark):
    rows = PENDING["wow_movers_topk"](spark, SF_SMOKE).collect()
    risers = [r for r in rows if r["direction"] == "riser"]
    fallers = [r for r in rows if r["direction"] == "faller"]
    assert len(risers) == 5 and len(fallers) == 5
    assert all(r["delta"] == round(r["rev_cur"] - r["rev_prev"], 2) for r in rows)
    assert min(r["delta"] for r in risers) >= max(r["delta"] for r in fallers)


def test_runs_test_consistent(spark):
    row = PENDING["runs_test_wald_wolfowitz"](spark, SF_SMOKE).collect()[0]
    assert 1 <= row["runs"] <= row["n1"] + row["n2"]
    assert abs(row["z"]) < 50


def test_ljung_box_positive(spark):
    row = PENDING["ljung_box_q"](spark, SF_SMOKE).collect()[0]
    assert row["df"] == 7
    assert row["ljung_box_q"] >= 0
    assert row["n"] > 100


def test_abc_partitions_parts(spark):
    from etl_mini_spark.session import load_table

    rows = {r["abc"]: r for r in PENDING["inventory_abc_classes"](spark, SF_SMOKE).collect()}
    assert set(rows) == {"A", "B", "C"}
    n_parts = (
        load_table(spark, SF_SMOKE, "lineitem").select("l_partkey").distinct().count()
    )
    assert sum(r["n_parts"] for r in rows.values()) == n_parts
    assert abs(sum(r["rev_share"] for r in rows.values()) - 1.0) < 1e-3
    # the A class must be small in parts but dominant in revenue
    assert rows["A"]["n_parts"] < rows["C"]["n_parts"] or rows["A"]["rev_share"] > 0.5


def test_islands_census_consistent(spark):
    row = PENDING["gaps_islands_order_days"](spark, SF_SMOKE).collect()[0]
    assert 1 <= row["n_islands"] <= row["n_days"]
    assert 1 <= row["longest_len"] <= row["n_days"]


def test_asof_native_parity_gap_nonnegative(spark):
    rows = PENDING["sql_asof_native_parity"](spark, SF_SMOKE).collect()
    assert rows
    matched = [r for r in rows if r["click_id"] is not None]
    assert matched  # the join must actually find prior clicks
    assert all(r["gap_us"] >= 0 for r in matched)


def test_rfm_migration_rows_sum_to_one(spark):
    rows = PENDING["rfm_migration_matrix"](spark, SF_SMOKE).collect()
    assert rows
    by_from: dict = {}
    for r in rows:
        by_from.setdefault(r["from_seg"], 0.0)
        by_from[r["from_seg"]] += r["row_share"]
    assert all(abs(s - 1.0) < 1e-3 for s in by_from.values())


def test_source_divergence_nonnegative_bounded(spark):
    rows = PENDING["corpus_source_divergence"](spark, SF_SMOKE).collect()
    assert len(rows) > 3
    for r in rows:
        assert -1e-6 <= r["js"] <= 0.6931471806  # ln 2 bound


def test_growth_guards_and_values(spark):
    rows = PENDING["growth_mom_yoy"](spark, SF_SMOKE).orderBy("y", "mo").collect()
    assert rows[0]["mom"] is None and rows[0]["yoy"] is None  # no lag for the first month
    assert any(r["mom"] is not None for r in rows)
    assert any(r["yoy"] is not None for r in rows)
    for r in rows:
        if r["mom"] is not None:
            assert r["mom"] > -1.0
        assert r["revenue"] > 0


def test_angle_histogram_is_distribution(spark):
    rows = PENDING["embedding_angle_histogram"](spark, SF_SMOKE).collect()
    assert rows
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-3
    assert all(0 <= r["bin"] <= 7 for r in rows)
    # embeddings around distinct centers: cosines must spread across bins
    assert len(rows) >= 3


def test_winsorized_mean_between_bounds(spark):
    rows = PENDING["winsorized_mean_trimmed"](spark, SF_SMOKE).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["p05"] <= r["winsor_mean"] <= r["p95"]
