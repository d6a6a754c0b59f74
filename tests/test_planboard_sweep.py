"""Full-board plan-shape sweep (r4 verdict #2): build EVERY declared
query's physical plan and assert that single-partition WindowExec
appears only where the window's input is bounded by construction —
with the bound written next to the entry. The r4 round found its one
real defect (`nb_pr_curve`'s corpus-sized window) outside the 30-query
hot tier; this sweep covers all of `queries()`, so that blind spot is
closed: any new query that reintroduces an unbounded global window
fails here by name.

Plan-build only — no query executes beyond the few bounded
driver-side collects some operators perform while composing their
plans (k centroids, 1-row seeds)."""

from __future__ import annotations

from big_data_instacart_market_basket_analysis_spark.operators import (
    profiling as P,
)
from tests.conftest import SF_SMOKE

#: query -> (expected single-partition WindowExec count, grain bound).
#: Exact counts, not ceilings: a drop means an entry went stale (prune
#: it), a rise means a new unbounded window snuck in (fix it). Every
#: grain here is data-independent or calendar-bounded:
#:   bucket    — floor()/width-bucket tables: integer score range,
#:               never row count (the prefix sums and ranks run
#:               through ranking.py; see test_one_value_prefix_kernel)
#:   day       — calendar days in the fixture window; grows with time,
#:               not data volume (same for hour, t_days event ages)
#:   lag       — fixed max-lag constant (ACF grid <= 14 rows)
#:   decile    — exactly 10 aggregated rows (Lorenz/gains cuts)
#:   brand     — TPC-H p_brand domain (25 values)
#:   test      — one row per hypothesis = distinct event_type values
#:   partstats — one row per shuffle partition (spark conf, not data)
GLOBAL_WINDOW_WHITELIST: dict[str, tuple[int, str]] = {
    "delta_advisor": (4, "bucket"),
    "events_acf": (2, "lag grid + day"),
    "events_ar2_forecast": (2, "day"),
    "events_durbin_watson": (1, "day (lag-1 diff over the daily "
                                "series — the acf_report stance)"),
    "events_bitmap_retention": (1, "day"),
    "events_ccf": (1, "day"),
    "events_concurrency": (1, "hour"),
    "events_forecast_backtest": (4, "day"),
    "events_hurst": (1, "day ((w, block)-partitioned prefix over the "
                        "gapfilled calendar; the first exchange below "
                        "it is the 1-row span agg the calendar "
                        "generator explodes from)"),
    "events_granger": (1, "day"),
    "events_perm_entropy": (1, "day (lead-2 ordinal patterns over the "
                               "gap-filled calendar)"),
    # events_sample_entropy: the day-grain row_number+lead template
    # window runs inside the staged (localCheckpointed) template table,
    # so the FINAL plan the sweep sees carries zero global windows.
    "events_km_survival": (2, "t_days (event-age days)"),
    "events_logrank": (1, "t_days"),
    "events_matrix_profile": (7, "day (window-arm leads)"),
    "events_multi_test_bh": (3, "test (one row per event_type)"),
    "events_nelson_aalen": (2, "t_days"),
    "events_pacf": (1, "day"),
    "events_peaks": (1, "day"),
    "events_qini": (1, "decile"),
    "events_revenue_gini": (1, "decile"),
    "events_rmst": (3, "t_days"),
    "events_robust_trend": (2, "day"),
    "events_runs_test": (2, "day"),
    "events_seasonality": (2, "day — inherits stl_decompose's dense "
                              "day-grid MA window + dow re-join"),
    "events_skew_report": (1, "partstats"),
    "events_stl_decompose": (2, "day"),
    "market_hhi": (1, "brand"),
    "ml_conformal_ols": (2, "bucket + 1-row total"),
    "orders_backlog": (1, "day"),
    "parts_pareto_skyline": (1, "bucket"),
    "text_heaps_curve": (1, "bucket"),
}


def test_full_board_global_window_sweep(spark):
    import __spark_entry__ as entry

    qs = entry.queries()
    wrong: dict[str, str] = {}
    for name, fn in sorted(qs.items()):
        try:
            df = fn(spark, SF_SMOKE)
            text = (
                df._jdf.queryExecution().executedPlan().toString()
            )
        except Exception as ex:  # plan must at least build
            wrong[name] = f"plan build failed: {type(ex).__name__}"
            continue
        n = P._count_global_windows(text)
        want = GLOBAL_WINDOW_WHITELIST.get(name, (0, "not whitelisted"))[0]
        if n != want:
            wrong[name] = f"global windows {n} != {want}"
    stale = set(GLOBAL_WINDOW_WHITELIST) - set(qs)
    assert not stale, f"whitelist names unknown queries: {stale}"
    assert not wrong, wrong
