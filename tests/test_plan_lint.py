"""Plan lint (SURVEY.md §4.2): NO registered query may plan an
unpartitioned Window over unbounded input.

Spark executes a ``Window`` with an empty partition spec as ONE task
holding the window's entire input ("No Partition Defined for Window
operation! Moving all data to a single partition") — the scale
anti-pattern that made ten r3 queries correct-at-sf0.1 but fatal at
100 TB. Those ten (and six more found by this lint's first sweep) now
route global ranks / running sums through ``functions.ranks``
(range-partition + per-partition window + broadcast offsets) or
broadcast 1-row aggregates; this test is the structural guard that
keeps them that way — the same role tests/test_plans.py plays for the
r2 broadcast fixes.

Whitelist policy (SURVEY.md §4.2): an empty-partition Window is
acceptable ONLY when its input frame is bounded by construction —
a value DOMAIN (digit/bucket/type grids), a CALENDAR grid (days /
months), a LIMIT, or a rank-filter that Spark rewrites into
WindowGroupLimit (each task pre-trims to the top-k, so the single
final task sees partitions×k rows, not the corpus). Every entry below
says which bound applies. Entity-sized frames (customers, suppliers,
orderkeys, vocabulary, sessions, documents) are NOT bounded and never
belong here.
"""

from __future__ import annotations

import pytest

from apache_spark_irs_form_990_spark import registry
from apache_spark_irs_form_990_spark.plans.inspect import (
    unpartitioned_windows,
)

# query id -> why its empty-partition window frame is bounded
WHITELIST = {
    # --- tiny post-aggregate domains (# rows given by a fixed domain) ---
    "agg_pareto_cumshare": "per-brand aggregate: |brands| ~ 25 rows",
    "audit_benford_first_digit": "first-digit domain: 9 rows",
    "ml_class_weights": "per-language aggregate: |langs| = 5 rows",
    "pipeline_pretrain_mix": "per-source aggregate: |sources| rows",
    "pipeline_sample_temperature": "per-source weights: |sources| rows",
    "stats_cramers_v": "returnflag x orderpriority contingency: <= 15 rows",
    "stats_psi_drift": "PSI bucket grid: fixed bucket count",
    "ts_dow_hour_grid": "day-of-week x hour grid: 168 rows",
    # --- value-domain collapse (distinct values of a bounded measure) ---
    "ml_f1_threshold_sweep": "threshold sweep over distinct score values",
    "ml_roc_auc": "value-domain collapse: distinct n_chars values",
    "stats_ks_two_sample": "per-value count table: quantity domain <= 50",
    "stats_mann_whitney_u": "per-value count table: quantity domain <= 50",
    "stats_spearman_rho": "per-value count tables: qty/discount domains",
    # --- calendar-bounded series (days / months, not data volume) ---
    "stats_runs_test_wald": "daily revenue series: calendar-bounded",
    "stats_survival_km": "per-day event table: calendar-bounded",
    "ts_acf_multi_lag": "daily series: calendar-bounded",
    "ts_autocorr_daily": "daily series: calendar-bounded",
    "ts_changepoint_single": "daily series: calendar-bounded",
    "ts_cusum_change": "daily series: calendar-bounded",
    "ts_mase_seasonal_naive": "daily series: calendar-bounded",
    "ts_periodogram_candidates": "daily series: calendar-bounded",
    "ts_seasonal_decompose_dow": "daily series: calendar-bounded",
    "ts_theil_sen_monthly": "monthly series: calendar-bounded",
    "ts_wow_same_dow": "daily series: calendar-bounded",
    "win_bollinger_bands": "daily series: calendar-bounded",
    "win_index_to_base": "monthly series: calendar-bounded",
    "win_percent_change_mom": "monthly series: calendar-bounded",
    "win_weighted_moving_avg": "daily series: calendar-bounded",
    # --- LIMIT-bounded frames ---
    "text_vocab_coverage_curve": "rank window input is LIMIT 50",
    "text_zipf_slope": "rank window input is LIMIT 200",
    # --- rank-filter -> WindowGroupLimit (per-task top-k pre-trim) ---
    "beh_markov_second_order": (
        "rank<=3 per context -> WindowGroupLimit; frame also bounded by "
        "|event types|^3 contexts"
    ),
    "beh_session_paths": "rank<=15 -> WindowGroupLimit pre-trims each task",
}


def test_whitelist_entries_exist():
    names = set(registry.queries())
    stale = sorted(set(WHITELIST) - names)
    assert not stale, f"whitelist names not in registry: {stale}"


def test_no_unpartitioned_window_over_unbounded_input(smoke_frames):
    """Walk every registered query's optimized plan; fail on any
    empty-partition Window outside the documented whitelist."""
    violations = {}
    unused_whitelist = set(WHITELIST)
    for name, df in smoke_frames.items():
        try:
            if isinstance(df, Exception):
                raise df
            hits = unpartitioned_windows(df)
        except Exception as e:  # noqa: BLE001 — build errors are other tests' job
            pytest.fail(f"{name}: query build failed in lint: {e}")
        if not hits:
            continue
        if name in WHITELIST:
            unused_whitelist.discard(name)
            continue
        violations[name] = [h[:140] for h in hits]
    assert not violations, (
        "unpartitioned Window over unbounded input (fix via "
        "functions.ranks.global_order / broadcast 1-row aggregates, or "
        f"whitelist with a bounded-frame reason): {violations}"
    )
    assert not unused_whitelist, (
        "whitelist entries whose queries no longer plan an unpartitioned "
        f"window — remove them: {sorted(unused_whitelist)}"
    )
