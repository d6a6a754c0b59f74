"""[EXT] Distribution fits & forecasting: MoM/closed-form fits, exponential-smoothing and AR forecasts, backtests.

Split from the monolithic ``operators/temporal.py`` (r8 verdict task 2); see the package ``__init__`` for provenance. All docstring citations to the reference (F.py) are preserved on the operators themselves.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_instacart_market_basket_analysis_spark.operators import (
    ranking as _rank,
)

from ...sources.loaders import local_rows



#: Holt double-exponential smoothing constants.
HOLT_ALPHA = 0.5


HOLT_BETA = 0.3




def user_holt_forecast(events: DataFrame) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) per user over
    the time-ordered value series, with a one-step-ahead forecast —
    the trend-aware upgrade of the EWMA operator (an EWMA lags a
    trending series forever; Holt's trend term closes the gap).

    The recursion is a LEFT FOLD over the user's ordered values:
    level' = a·v + (1-a)·(level + trend); trend' = b·(level'-level) +
    (1-b)·trend, seeded level=v0, trend=0. Both engines execute the
    identical fold (Spark ``aggregate``, DuckDB ``list_reduce``) over
    the identically-ordered array, so the doubles agree bit-for-bit
    and the rounded outputs hash-match — a recursive time-series
    model, exactly verified.

    Scale shape: one user_id shuffle (the collect_list agg); the fold
    is per-row compute over each user's own array. Per-user series
    length is the memory bound — for unbounded histories the same
    recurrence runs incrementally as the stateful-streaming form
    (``run_stream_stateful_spend``'s shape) with (level, trend) as
    the keyed state.
    """
    a, b = HOLT_ALPHA, HOLT_BETA
    series = (
        events.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.expr(
                # full microsecond precision in the sort key — millis
                # truncation would order same-millisecond events
                # differently than the oracle's ORDER BY ts
                "transform(array_sort(collect_list(struct("
                "unix_micros(ts) AS ts_us, event_id, value))),"
                " s -> CAST(s.value AS DOUBLE))"
            ).alias("vs")
        )
    )
    lvl = f"({a}D * x.v + {1 - a}D * (acc.l + acc.t))"
    step = (
        f"(acc, x) -> struct({lvl} AS l,"
        f" {b}D * ({lvl} - acc.l) + {1 - b}D * acc.t AS t,"
        " x.v AS v)"
    )
    fold = (
        "aggregate(slice(sv, 2, size(sv) - 1),"
        " struct(sv[0].l AS l, sv[0].t AS t, sv[0].v AS v),"
        f" {step})"
    )
    return (
        series.withColumn(
            "sv",
            F.expr(
                "transform(vs, v -> struct(v AS l, CAST(0 AS DOUBLE)"
                " AS t, v AS v))"
            ),
        )
        .select(
            "user_id",
            F.size("vs").alias("n_events"),
            F.expr(f"round({fold}.l, 6)").alias("level"),
            F.expr(f"round({fold}.t, 6)").alias("trend"),
            F.expr(f"round({fold}.l + {fold}.t, 6)").alias(
                "forecast_next"
            ),
        )
    )




#: NB: this oracle is a RECURSIVE CTE (compose with recursive=True).
#: A ``list_reduce`` formulation would be the natural mirror of the
#: Spark fold, but DuckDB 1.0's list_reduce mutates struct accumulator
#: fields SEQUENTIALLY inside the lambda (the 't' expression observes
#: the already-updated 'l') — silently wrong for any cross-dependent
#: state. The row-per-step recursion below uses plain scalar
#: arithmetic in exactly the Spark fold's op order.
ORACLE_USER_HOLT = f"""
hseq AS (
  SELECT user_id, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS pos
  FROM events WHERE value IS NOT NULL
),
hn AS (SELECT user_id, max(pos) AS n FROM hseq GROUP BY 1),
hrec AS (
  SELECT user_id, pos, v AS l, CAST(0 AS DOUBLE) AS t
  FROM hseq WHERE pos = 1
  UNION ALL
  SELECT r.user_id, s.pos,
         {HOLT_ALPHA} * s.v + {1 - HOLT_ALPHA} * (r.l + r.t),
         {HOLT_BETA} * (({HOLT_ALPHA} * s.v
             + {1 - HOLT_ALPHA} * (r.l + r.t)) - r.l)
           + {1 - HOLT_BETA} * r.t
  FROM hrec r
  JOIN hseq s ON s.user_id = r.user_id AND s.pos = r.pos + 1
),
user_holt_forecast AS (
  SELECT r.user_id, CAST(hn.n AS INT) AS n_events,
         round(r.l, 6) AS level,
         round(r.t, 6) AS trend,
         round(r.l + r.t, 6) AS forecast_next
  FROM hrec r JOIN hn ON hn.user_id = r.user_id AND r.pos = hn.n
)
"""




#: Holt-Winters additive-seasonality constants (season length = 7,
#: the weekly cycle at the event stream's daily cadence).
HW_ALPHA = 0.5


HW_BETA = 0.3


HW_GAMMA = 0.2


HW_SEASON = 7




def user_holt_winters(events: DataFrame) -> DataFrame:
    """Holt-Winters triple exponential smoothing (level + trend +
    additive m=7 seasonality) per user — the top rung of the
    forecasting ladder (EWMA -> Holt -> Holt-Winters). Seasonal slots
    are indexed by series position mod m and start at zero, so the
    cycle is learned from the data; the recurrence is the standard
    additive form:

        nl = a*(v - s[i]) + (1-a)*(l + t)
        nt = b*(nl - l) + (1-b)*t
        s'[i] = g*(v - nl) + (1-g)*s[i]

    Executed as a left fold whose state is (l, t, season array, pos);
    the DuckDB oracle replays it as a row-per-step recursive CTE (the
    same scalar op order — see the Holt operator's note on why
    list_reduce cannot carry cross-dependent struct state), so the
    rounded outputs hash-match bit-for-bit.

    Scale shape identical to Holt: one user_id shuffle, per-row fold;
    the m-length seasonal state adds O(m) per step, constant memory.
    """
    a, b, g, m = HW_ALPHA, HW_BETA, HW_GAMMA, HW_SEASON
    series = (
        events.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct("
                "unix_micros(ts) AS ts_us, event_id, value))),"
                " s -> CAST(s.value AS DOUBLE))"
            ).alias("vs")
        )
    )
    nl = (
        f"({a}D * (v - element_at(acc.sn, pmod(acc.p, {m}) + 1))"
        f" + {1 - a}D * (acc.l + acc.t))"
    )
    step = (
        f"(acc, v) -> struct({nl} AS l,"
        f" {b}D * ({nl} - acc.l) + {1 - b}D * acc.t AS t,"
        f" transform(acc.sn, (e, i) -> IF(i = pmod(acc.p, {m}),"
        f"   {g}D * (v - {nl}) + {1 - g}D * e, e)) AS sn,"
        " acc.p + 1 AS p)"
    )
    fold = (
        "aggregate(slice(vs, 2, size(vs) - 1),"
        " struct(CAST(vs[0] AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS t,"
        f" array_repeat(CAST(0 AS DOUBLE), {m}) AS sn, 1 AS p),"
        f" {step})"
    )
    return series.select(
        "user_id",
        F.size("vs").alias("n_events"),
        F.expr(f"round({fold}.l, 6)").alias("level"),
        F.expr(f"round({fold}.t, 6)").alias("trend"),
        F.expr(
            f"transform({fold}.sn, e -> round(e, 6))"
        ).alias("season"),
        F.expr(
            f"round({fold}.l + {fold}.t"
            f" + element_at({fold}.sn, pmod(size(vs), {m}) + 1), 6)"
        ).alias("forecast_next"),
    )




#: recursive-CTE oracle (compose with recursive=True); same rationale
#: as ORACLE_USER_HOLT.
ORACLE_USER_HOLT_WINTERS = f"""
hwseq AS (
  SELECT user_id, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS pos
  FROM events WHERE value IS NOT NULL
),
hwn AS (SELECT user_id, max(pos) AS n FROM hwseq GROUP BY 1),
hwrec AS (
  SELECT user_id, pos, v AS l, CAST(0 AS DOUBLE) AS t,
         [CAST(0 AS DOUBLE), 0, 0, 0, 0, 0, 0] AS sn
  FROM hwseq WHERE pos = 1
  UNION ALL
  SELECT r.user_id, e.pos,
         {HW_ALPHA} * (e.v - r.sn[((e.pos - 1) % {HW_SEASON}) + 1])
           + {1 - HW_ALPHA} * (r.l + r.t),
         {HW_BETA} * (({HW_ALPHA}
             * (e.v - r.sn[((e.pos - 1) % {HW_SEASON}) + 1])
             + {1 - HW_ALPHA} * (r.l + r.t)) - r.l)
           + {1 - HW_BETA} * r.t,
         list_transform(r.sn, (x, i) ->
           CASE WHEN i = ((e.pos - 1) % {HW_SEASON}) + 1
             THEN {HW_GAMMA} * (e.v - ({HW_ALPHA}
                    * (e.v - r.sn[((e.pos - 1) % {HW_SEASON}) + 1])
                    + {1 - HW_ALPHA} * (r.l + r.t)))
                  + {1 - HW_GAMMA} * x
             ELSE x END)
  FROM hwrec r
  JOIN hwseq e ON e.user_id = r.user_id AND e.pos = r.pos + 1
),
user_holt_winters AS (
  SELECT r.user_id, CAST(hwn.n AS INT) AS n_events,
         round(r.l, 6) AS level,
         round(r.t, 6) AS trend,
         list_transform(r.sn, x -> round(x, 6)) AS season,
         round(r.l + r.t + r.sn[(hwn.n % {HW_SEASON}) + 1], 6)
           AS forecast_next
  FROM hwrec r JOIN hwn ON hwn.user_id = r.user_id AND r.pos = hwn.n
)
"""




# ---------------------------------------------------------------------------
# AR(2) Yule-Walker fit + forecast (closed-form autoregression)
# ---------------------------------------------------------------------------

#: daily revenue is scaled to integer cents so the series values are
#: exact; autocorrelations are ratios of double sums rounded at 9dp
#: (fold-order noise is ~1e-13 relative — the pre-rounded-moments
#: protocol), and phi/forecasts derive from the ROUNDED rhos only.
AR2_VAL_SCALE = 100


AR2_HORIZON = 3




def ar2_forecast(events: DataFrame) -> DataFrame:
    """AR(2) fit by Yule-Walker on the daily purchase-revenue series —
    the autoregressive rung of the forecasting ladder (EWMA/Holt/
    Holt-Winters smooth; AR models the serial correlation itself) and,
    like the verified OLS, a CLOSED-FORM solve:

        rho1 = c1/c0, rho2 = c2/c0      (autocorrelations)
        phi1 = rho1*(1 - rho2) / (1 - rho1^2)
        phi2 = (rho2 - rho1^2) / (1 - rho1^2)

    then an h-step forecast by the AR recursion on the demeaned last
    two observations. The series is DAYS-grain (bounded by calendar,
    never by corpus size), so the one global row_number window sorts
    at most a few thousand rows regardless of table size; everything
    corpus-sized happens in the first hash-agg.

    Output (stat, value): n_days, mean, rho1, rho2, phi1, phi2,
    fc_1..fc_h (forecast revenue, cents).
    """
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.expr(f"CAST(floor(value * {AR2_VAL_SCALE}) AS BIGINT)")
            ).alias("v")
        )
    )
    w = Window.orderBy("day")
    s = daily.select(
        "day", "v", F.row_number().over(w).alias("idx")
    ).select(
        "idx",
        F.col("v").alias("vi"),
        F.col("v").cast("double").alias("v"),
        F.lag("v", 1).over(Window.orderBy("idx")).cast("double").alias("v1"),
        F.lag("v", 2).over(Window.orderBy("idx")).cast("double").alias("v2"),
    )
    # mean from the EXACT integer sum (a double sum's fold-order noise
    # can reach the 6th decimal at this magnitude)
    base = s.agg(
        F.count("*").alias("n"), F.sum("vi").alias("sv")
    ).select("n", (F.col("sv") / F.col("n")).alias("m"))
    cs = (
        s.crossJoin(F.broadcast(base))
        .agg(
            F.first("n").alias("n"),
            F.first("m").alias("m"),
            F.sum((F.col("v") - F.col("m")) * (F.col("v") - F.col("m")))
            .alias("c0"),
            F.sum(
                (F.col("v") - F.col("m")) * (F.col("v1") - F.col("m"))
            ).alias("c1"),
            F.sum(
                (F.col("v") - F.col("m")) * (F.col("v2") - F.col("m"))
            ).alias("c2"),
            F.expr("max_by(v, idx)").alias("vlast"),
            F.expr("max_by(v1, idx)").alias("vprev"),
        )
        .select(
            "n",
            F.round("m", 6).alias("mean"),
            F.round(F.col("c1") / F.col("c0"), 9).alias("rho1"),
            F.round(F.col("c2") / F.col("c0"), 9).alias("rho2"),
            "vlast",
            "vprev",
        )
        .select(
            "*",
            F.round(
                F.col("rho1")
                * (1 - F.col("rho2"))
                / (1 - F.col("rho1") * F.col("rho1")),
                6,
            ).alias("phi1"),
            F.round(
                (F.col("rho2") - F.col("rho1") * F.col("rho1"))
                / (1 - F.col("rho1") * F.col("rho1")),
                6,
            ).alias("phi2"),
        )
    )
    # h-step recursion on the ROUNDED phis (deterministic end-to-end)
    fc_exprs = []
    x2, x1 = "(vprev - mean)", "(vlast - mean)"
    for h in range(1, AR2_HORIZON + 1):
        nxt = f"(phi1 * {x1} + phi2 * {x2})"
        fc_exprs.append(f"'fc_{h}', round(mean + {nxt}, 4)")
        x2, x1 = x1, nxt
    return cs.selectExpr(
        "stack("
        + str(6 + AR2_HORIZON)
        + ", 'n_days', CAST(n AS DOUBLE),"
        " 'mean', mean,"
        " 'rho1', round(rho1, 6), 'rho2', round(rho2, 6),"
        " 'phi1', phi1, 'phi2', phi2, "
        + ", ".join(fc_exprs)
        + ") AS (stat, value)"
    )




def oracle_ar2_forecast() -> str:
    fc_rows = []
    x2, x1 = "(vprev - mean)", "(vlast - mean)"
    for h in range(1, AR2_HORIZON + 1):
        nxt = f"(phi1 * {x1} + phi2 * {x2})"
        fc_rows.append(
            f"UNION ALL SELECT 'fc_{h}', round(mean + {nxt}, 4) FROM ar2p"
        )
        x2, x1 = x1, nxt
    return f"""
ar2_daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * {AR2_VAL_SCALE}) AS BIGINT))
              AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
),
ar2_s AS (
  SELECT idx, v AS vi, CAST(v AS DOUBLE) AS v,
         CAST(lag(v, 1) OVER (ORDER BY idx) AS DOUBLE) AS v1,
         CAST(lag(v, 2) OVER (ORDER BY idx) AS DOUBLE) AS v2
  FROM (SELECT day, v,
               row_number() OVER (ORDER BY day) AS idx
        FROM ar2_daily)
),
ar2_base AS (
  SELECT count(*) AS n,
         CAST(sum(vi) AS BIGINT) / CAST(count(*) AS DOUBLE) AS m
  FROM ar2_s
),
ar2_c AS (
  SELECT b.n, round(b.m, 6) AS mean,
         round(sum((s.v - b.m) * (s.v1 - b.m))
               / sum((s.v - b.m) * (s.v - b.m)), 9) AS rho1,
         round(sum((s.v - b.m) * (s.v2 - b.m))
               / sum((s.v - b.m) * (s.v - b.m)), 9) AS rho2,
         arg_max(s.v, s.idx) AS vlast,
         arg_max(s.v1, s.idx) AS vprev
  FROM ar2_s s, ar2_base b
  GROUP BY b.n, b.m
),
ar2p AS (
  SELECT *,
         round(rho1 * (1 - rho2) / (1 - rho1 * rho1), 6) AS phi1,
         round((rho2 - rho1 * rho1) / (1 - rho1 * rho1), 6) AS phi2
  FROM ar2_c
),
ar2_forecast AS (
  SELECT 'n_days' AS stat, CAST(n AS DOUBLE) AS value FROM ar2p
  UNION ALL SELECT 'mean', mean FROM ar2p
  UNION ALL SELECT 'rho1', round(rho1, 6) FROM ar2p
  UNION ALL SELECT 'rho2', round(rho2, 6) FROM ar2p
  UNION ALL SELECT 'phi1', phi1 FROM ar2p
  UNION ALL SELECT 'phi2', phi2 FROM ar2p
  {" ".join(fc_rows)}
)
"""




# ---------------------------------------------------------------------------
# robust trend: Mann-Kendall test + Theil-Sen slope
# ---------------------------------------------------------------------------


def robust_trend(events: DataFrame) -> DataFrame:
    """Nonparametric trend readout for the daily revenue series:
    Mann-Kendall S (sum of sign(v_j - v_i) over day pairs — exact
    integer), its tie-corrected variance and z statistic, plus the
    Theil-Sen slope (median of pairwise slopes — the robust
    trend-rate estimator a single outlier day cannot move).

    The pair set is DAYS-grain quadratic — bounded by the calendar
    (~66k pairs for a year), never by corpus size; the corpus-sized
    work is the one daily hash-agg above it. S and the tie term are
    exact BIGINTs; z is one rounded expression; the slope median is
    an exact percentile over integer-ratio doubles. Output
    (stat, value): n_days, s, var_s, z, theil_sen_slope.
    """
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.expr(f"CAST(floor(value * {AR2_VAL_SCALE}) AS BIGINT)")
            ).alias("v")
        )
    )
    w = Window.orderBy("day")
    s = daily.select(
        F.row_number().over(w).alias("i"), F.col("v")
    )
    a = s.select(F.col("i").alias("i"), F.col("v").alias("vi"))
    b = s.select(F.col("i").alias("j"), F.col("v").alias("vj"))
    pairs = a.join(b, F.col("i") < F.col("j"))
    pair_stats = pairs.agg(
        F.sum(F.signum(F.col("vj") - F.col("vi")).cast("bigint")).alias(
            "s_stat"
        ),
        F.round(
            F.percentile(
                (F.col("vj") - F.col("vi"))
                / (F.col("j") - F.col("i")).cast("double"),
                F.lit(0.5),
            ),
            4,
        ).alias("theil_sen_slope"),
    )
    ties = (
        s.groupBy("v")
        .agg(F.count("*").alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term"),
            F.sum("t").alias("n"),
        )
    )
    return (
        pair_stats.crossJoin(F.broadcast(ties))
        .selectExpr(
            "CAST(n AS BIGINT) AS n",
            "s_stat",
            "theil_sen_slope",
            "(n * (n - 1) * (2 * n + 5) - tie_term)"
            " / CAST(18 AS DOUBLE) AS var_s",
        )
        .selectExpr(
            "n", "s_stat", "theil_sen_slope", "var_s",
            "CASE WHEN s_stat > 0"
            " THEN round((s_stat - 1) / sqrt(var_s), 6)"
            " WHEN s_stat < 0"
            " THEN round((s_stat + 1) / sqrt(var_s), 6)"
            " ELSE CAST(0 AS DOUBLE) END AS z",
        )
        .selectExpr(
            "stack(5,"
            " 'n_days', CAST(n AS DOUBLE),"
            " 's', CAST(s_stat AS DOUBLE),"
            " 'var_s', round(var_s, 4),"
            " 'z', z,"
            " 'theil_sen_slope', theil_sen_slope) AS (stat, value)"
        )
    )




ORACLE_ROBUST_TREND = f"""
rt_daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * {AR2_VAL_SCALE}) AS BIGINT))
              AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
),
rt_s AS (
  SELECT row_number() OVER (ORDER BY day) AS i, v FROM rt_daily
),
rt_pairs AS (
  SELECT CAST(sum(CAST(sign(b.v - a.v) AS BIGINT)) AS BIGINT)
           AS s_stat,
         round(quantile_cont((b.v - a.v)
               / CAST(b.i - a.i AS DOUBLE), 0.5), 4)
           AS theil_sen_slope
  FROM rt_s a JOIN rt_s b ON a.i < b.i
),
rt_ties AS (
  SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
         CAST(sum(t) AS BIGINT) AS n
  FROM (SELECT count(*) AS t FROM rt_s GROUP BY v)
),
rt_v AS (
  SELECT n, s_stat, theil_sen_slope,
         (n * (n - 1) * (2 * n + 5) - tie_term)
           / CAST(18 AS DOUBLE) AS var_s
  FROM rt_pairs, rt_ties
),
robust_trend AS (
  SELECT 'n_days' AS stat, CAST(n AS DOUBLE) AS value FROM rt_v
  UNION ALL SELECT 's', CAST(s_stat AS DOUBLE) FROM rt_v
  UNION ALL SELECT 'var_s', round(var_s, 4) FROM rt_v
  UNION ALL SELECT 'z',
    CASE WHEN s_stat > 0 THEN round((s_stat - 1) / sqrt(var_s), 6)
         WHEN s_stat < 0 THEN round((s_stat + 1) / sqrt(var_s), 6)
         ELSE CAST(0 AS DOUBLE) END FROM rt_v
  UNION ALL SELECT 'theil_sen_slope', theil_sen_slope FROM rt_v
)
"""




# ---------------------------------------------------------------------------
# forecast backtest: naive / seasonal-naive / truncated-EWMA / drift
# ---------------------------------------------------------------------------

def forecast_backtest(events: DataFrame) -> DataFrame:
    """One-step-ahead backtest of four closed-form forecasters on the
    daily purchase-revenue series — the model-selection harness that
    says WHICH of the engine's forecasting rungs (naive, weekly
    seasonal-naive, 8-day dyadic EWMA, drift) earns its keep, scored
    on a common eval window with MAE / MAPE / MASE.

    Every forecast is an exact rational with a model-specific integer
    denominator s (1, 1, 255, 7): the dyadic EWMA is
    (128·l1 + … + 1·l8)/255 and drift is (8·l1 − l8)/7, so each
    error is |s·v − num| / s with BIGINT numerators — MAE and MASE
    are exact-integer ratios rounded once, and MAPE averages
    per-term rationals. The series is DAYS-grain (calendar-bounded),
    so the lag windows sort thousands of rows at most; the one
    corpus-sized stage is the first hash-agg.

    Output per model: (model, n_evals, mae, mape, mase).
    """
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.expr(f"CAST(floor(value * {AR2_VAL_SCALE}) AS BIGINT)")
            ).alias("v")
        )
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "v", *[F.lag("v", i).over(w).alias(f"l{i}") for i in range(1, 9)]
    ).filter(F.col("l8").isNotNull() & (F.col("v") > 0))
    ewma_num = sum(
        (F.lit(2 ** (8 - i)) * F.col(f"l{i}") for i in range(2, 9)),
        F.lit(128) * F.col("l1"),
    )
    models = {
        "naive": (F.col("l1"), 1),
        "snaive7": (F.col("l7"), 1),
        "ewma8": (ewma_num, 255),
        "drift": (F.lit(8) * F.col("l1") - F.col("l8"), 7),
    }
    naive_abs = F.sum(F.abs(F.col("v") - F.col("l1"))).alias("naive_abs")
    out = None
    for name, (num, s) in models.items():
        e_abs = F.abs(F.lit(s) * F.col("v") - num)
        row = lagged.agg(
            F.lit(name).alias("model"),
            F.count("*").alias("n_evals"),
            F.sum(e_abs).alias("abs_sum"),
            F.sum(F.abs(F.col("v") - F.col("l1"))).alias("naive_sum"),
            F.round(
                F.avg(e_abs / (F.lit(float(s)) * F.col("v"))), 6
            ).alias("mape"),
        ).select(
            "model",
            "n_evals",
            F.round(
                F.col("abs_sum")
                / (F.lit(float(s) * 100.0) * F.col("n_evals")),
                6,
            ).alias("mae"),
            "mape",
            F.round(
                F.col("abs_sum")
                / (F.lit(float(s)) * F.col("naive_sum")),
                6,
            ).alias("mase"),
        )
        out = row if out is None else out.unionByName(row)
    return out




ORACLE_FORECAST_BACKTEST = f"""
fb_daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * {AR2_VAL_SCALE}) AS BIGINT))
              AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
fb_lagged AS MATERIALIZED (
  SELECT * FROM (
    SELECT v,
           lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
           lag(v, 3) OVER w AS l3, lag(v, 4) OVER w AS l4,
           lag(v, 5) OVER w AS l5, lag(v, 6) OVER w AS l6,
           lag(v, 7) OVER w AS l7, lag(v, 8) OVER w AS l8
    FROM fb_daily WINDOW w AS (ORDER BY day)
  ) WHERE l8 IS NOT NULL AND v > 0
),
forecast_backtest AS (
  SELECT 'naive' AS model, CAST(count(*) AS BIGINT) AS n_evals,
         round(sum(abs(v - l1)) / (CAST(100 AS DOUBLE) * count(*)), 6)
           AS mae,
         round(avg(abs(v - l1) / (CAST(1 AS DOUBLE) * v)), 6) AS mape,
         round(sum(abs(v - l1)) / (CAST(1 AS DOUBLE) * sum(abs(v - l1))),
               6) AS mase
  FROM fb_lagged
  UNION ALL
  SELECT 'snaive7', CAST(count(*) AS BIGINT),
         round(sum(abs(v - l7)) / (CAST(100 AS DOUBLE) * count(*)), 6),
         round(avg(abs(v - l7) / (CAST(1 AS DOUBLE) * v)), 6),
         round(sum(abs(v - l7)) / (CAST(1 AS DOUBLE) * sum(abs(v - l1))),
               6)
  FROM fb_lagged
  UNION ALL
  SELECT 'ewma8', CAST(count(*) AS BIGINT),
         round(sum(abs(255 * v - (128*l1 + 64*l2 + 32*l3 + 16*l4
                                  + 8*l5 + 4*l6 + 2*l7 + l8)))
               / (CAST(25500 AS DOUBLE) * count(*)), 6),
         round(avg(abs(255 * v - (128*l1 + 64*l2 + 32*l3 + 16*l4
                                  + 8*l5 + 4*l6 + 2*l7 + l8))
                   / (CAST(255 AS DOUBLE) * v)), 6),
         round(sum(abs(255 * v - (128*l1 + 64*l2 + 32*l3 + 16*l4
                                  + 8*l5 + 4*l6 + 2*l7 + l8)))
               / (CAST(255 AS DOUBLE) * sum(abs(v - l1))), 6)
  FROM fb_lagged
  UNION ALL
  SELECT 'drift', CAST(count(*) AS BIGINT),
         round(sum(abs(7 * v - (8 * l1 - l8)))
               / (CAST(700 AS DOUBLE) * count(*)), 6),
         round(avg(abs(7 * v - (8 * l1 - l8))
                   / (CAST(7 AS DOUBLE) * v)), 6),
         round(sum(abs(7 * v - (8 * l1 - l8)))
               / (CAST(7 AS DOUBLE) * sum(abs(v - l1))), 6)
  FROM fb_lagged
)
"""




# ---------------------------------------------------------------------------
# Croston intermittent-demand forecast (per-product)
# ---------------------------------------------------------------------------

#: dyadic EWMA over the last 4 demand events / intervals: weights
#: 8,4,2,1 (/15 cancels in the final ratio) — exact integers.
CROSTON_LAGS = 4




def croston_forecast(lineitem: DataFrame) -> DataFrame:
    """Croston's method for intermittent demand, per product: smooth
    the nonzero demand SIZES and the INTER-demand intervals
    separately, forecast = smoothed size / smoothed interval (units
    per day). The per-entity member of the forecasting family (AR2/
    Holt/backtest run on the global series) — sparse, gappy demand
    is exactly where naive smoothing fails and Croston is the
    textbook answer.

    Both smoothers are truncated dyadic EWMAs over the last 4 demand
    events (weights 8,4,2,1): z_num = 8q1+4q2+2q3+q4 and
    p_num = 8i1+4i2+2i3+i4 are exact BIGINTs (quantities integral,
    intervals in whole days), the /15 normalizations cancel, and the
    forecast is ONE rounded division — no recursive float state, so
    per-product forecasts hash-match at any scale. One hash-agg to
    (product, day), one per-product window (bounded by a product's
    demand-day count), products with <5 demand days excluded.

    Output: (product, n_demand_days, z_num, p_num, croston_rate).
    """
    dd = (
        lineitem.groupBy(
            F.col("l_partkey").alias("product"),
            F.to_date("l_shipdate").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("l_quantity"), 0).cast("bigint")).alias("q")
        )
    )
    w = Window.partitionBy("product").orderBy(F.desc("day"))
    last = (
        dd.select(
            "product",
            "day",
            "q",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("product")).alias(
                "n_demand_days"
            ),
            *[F.lead("q", i).over(w).alias(f"q{i}") for i in range(1, CROSTON_LAGS)],
            *[F.lead("day", i).over(w).alias(f"d{i}") for i in range(1, CROSTON_LAGS + 1)],
        )
        .filter((F.col("rn") == 1) & F.col(f"d{CROSTON_LAGS}").isNotNull())
    )
    z_num = (
        F.lit(8) * F.col("q")
        + F.lit(4) * F.col("q1")
        + F.lit(2) * F.col("q2")
        + F.col("q3")
    )
    p_num = (
        F.lit(8) * F.datediff(F.col("day"), F.col("d1"))
        + F.lit(4) * F.datediff(F.col("d1"), F.col("d2"))
        + F.lit(2) * F.datediff(F.col("d2"), F.col("d3"))
        + F.datediff(F.col("d3"), F.col("d4"))
    )
    return last.select(
        "product",
        "n_demand_days",
        z_num.cast("bigint").alias("z_num"),
        p_num.cast("bigint").alias("p_num"),
        F.round(z_num / p_num.cast("double"), 6).alias("croston_rate"),
    )




ORACLE_CROSTON = f"""
cr_dd AS (
  SELECT l_partkey AS product, CAST(l_shipdate AS DATE) AS day,
         CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
),
cr_last AS (
  SELECT * FROM (
    SELECT product, day, q,
           row_number() OVER w AS rn,
           count(*) OVER (PARTITION BY product) AS n_demand_days,
           lead(q, 1) OVER w AS q1, lead(q, 2) OVER w AS q2,
           lead(q, 3) OVER w AS q3,
           lead(day, 1) OVER w AS d1, lead(day, 2) OVER w AS d2,
           lead(day, 3) OVER w AS d3, lead(day, 4) OVER w AS d4
    FROM cr_dd WINDOW w AS (PARTITION BY product ORDER BY day DESC)
  ) WHERE rn = 1 AND d4 IS NOT NULL
),
croston_forecast AS (
  SELECT product, CAST(n_demand_days AS BIGINT) AS n_demand_days,
         CAST(8 * q + 4 * q1 + 2 * q2 + q3 AS BIGINT) AS z_num,
         CAST(8 * date_diff('day', d1, day)
              + 4 * date_diff('day', d2, d1)
              + 2 * date_diff('day', d3, d2)
              + date_diff('day', d4, d3) AS BIGINT) AS p_num,
         round((8 * q + 4 * q1 + 2 * q2 + q3)
               / CAST(8 * date_diff('day', d1, day)
                      + 4 * date_diff('day', d2, d1)
                      + 2 * date_diff('day', d3, d2)
                      + date_diff('day', d4, d3) AS DOUBLE), 6)
           AS croston_rate
  FROM cr_last
)
"""




# ---------------------------------------------------------------------------
# Poisson overdispersion test (dispersion index on per-user counts)
# ---------------------------------------------------------------------------


def overdispersion_test(events: DataFrame) -> DataFrame:
    """Poisson overdispersion check on per-user purchase counts — the
    gate before trusting the verified Poisson GLM's standard errors
    (count data whose variance exceeds its mean needs a negative-
    binomial or quasi-Poisson treatment; this measures the excess
    instead of assuming it away). Dispersion index D = s^2/mean with
    the chi-square/normal approximation z = (D-1)*sqrt((n-1)/2).

    Exactness: the corpus reduces to three exact integers (n, sum c,
    sum c^2); mean and variance are single divisions of exact
    integer expressions (var numerator n*S2 - S1^2 is pure BIGINT-in-
    DECIMAL), so both engines divide the same two integers once and
    round 6.

    Output (1 row): n_users, mean_count, var_count, dispersion_index,
    z_score, overdispersed (z > 1.645, one-sided 5%).
    """
    per_user = events.groupBy("user_id").agg(
        F.sum(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("c")
    )
    agg = per_user.agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    var_num = dec(F.col("n")) * dec(F.col("s2")) - dec(
        F.col("s1")
    ) * dec(F.col("s1"))
    var_den = dec(F.col("n")) * dec(F.col("n") - 1)
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    var = var_num.cast("double") / var_den.cast("double")
    d_idx = var / mean
    z = (d_idx - F.lit(1.0)) * F.sqrt(
        (F.col("n") - 1).cast("double") / F.lit(2.0)
    )
    return agg.select(
        F.col("n").alias("n_users"),
        F.round(mean, 6).alias("mean_count"),
        F.round(var, 6).alias("var_count"),
        F.round(d_idx, 6).alias("dispersion_index"),
        F.round(z, 6).alias("z_score"),
        (F.round(z, 6) > 1.645).alias("overdispersed"),
    )




ORACLE_OVERDISPERSION = """
od_u AS (
  SELECT CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                  END) AS BIGINT) AS c
  FROM events GROUP BY user_id
),
od_a AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2
  FROM od_u
),
overdispersion_test AS (
  SELECT n AS n_users,
         round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6)
           AS mean_count,
         round(CAST(CAST(n AS HUGEINT) * s2
                    - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE), 6)
           AS var_count,
         round((CAST(CAST(n AS HUGEINT) * s2
                     - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE))
               / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 6)
           AS dispersion_index,
         round(((CAST(CAST(n AS HUGEINT) * s2
                      - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE))
                / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) - 1.0)
               * sqrt(CAST(n - 1 AS DOUBLE) / 2.0), 6) AS z_score,
         round(((CAST(CAST(n AS HUGEINT) * s2
                      - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE))
                / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) - 1.0)
               * sqrt(CAST(n - 1 AS DOUBLE) / 2.0), 6) > 1.645
           AS overdispersed
  FROM od_a
)
"""




# ---------------------------------------------------------------------------
# Gumbel block-maxima fit (extreme value analysis of hourly revenue)
# ---------------------------------------------------------------------------

#: Euler-Mascheroni constant and pi, written once as literals so the
#: Spark and DuckDB expressions share the exact same doubles.
EULER_GAMMA = 0.5772156649015329


PI_LIT = 3.141592653589793


#: return period (blocks) for the headline return level.
GUMBEL_RET_BLOCKS = 30




def gumbel_maxima(events: DataFrame) -> DataFrame:
    """Gumbel extreme-value fit on DAILY MAXIMA of hourly purchase
    revenue — "how big an hourly revenue spike should we provision
    for once per month": the block-maxima complement of
    ``events_hill_tail`` (which estimates the tail index from upper
    order statistics; Gumbel assumes the light-tailed domain and
    yields calibrated return levels).

    Method of moments on the block maxima (Gumbel mean = mu +
    gamma*beta, variance = pi^2 beta^2 / 6):
        beta = s * sqrt(6) / pi,  mu = m - gamma*beta,
        x_T  = mu - beta * ln(-ln(1 - 1/T))
    where m and s come from EXACT BIGINT block sums (each hourly
    revenue is an integer cent sum, each daily max an integer, and
    n, sum(x), sum(x^2) exact — the doubles start only at the final
    closed forms, with gamma/pi as shared literals). Two bounded
    hash-aggs (hour grain, then day grain) over one corpus pass.

    Output (1 row): n_blocks, mean_max_cents, sd_max_cents, beta,
    mu, ret30_cents (the once-per-{T}-blocks level).
    """
    hourly = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.sum(
                F.round(F.col("value") * 100, 0).cast("bigint")
            ).alias("rev")
        )
    )
    return gumbel_from_hourly(hourly)




def gumbel_from_hourly(hourly: DataFrame) -> DataFrame:
    """Gumbel fit from an (h, rev) hour-grain revenue table — the
    shared tail of ``gumbel_maxima`` and its streaming twin (whose
    standing state is exactly this additive hour-grain table)."""
    daily_max = hourly.groupBy(F.to_date("h").alias("d")).agg(
        F.max("rev").alias("mx")
    )
    mm = daily_max.agg(
        F.count("*").alias("n"),
        F.sum("mx").alias("s1"),
        F.sum(F.col("mx") * F.col("mx")).alias("s2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    var = (
        nd * F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
    ) / (nd * (nd - 1))
    sd = F.sqrt(var)
    beta = sd * F.sqrt(F.lit(6.0)) / F.lit(PI_LIT)
    mu = mean - F.lit(EULER_GAMMA) * beta
    ret = mu - beta * F.log(
        -F.log(1 - 1 / F.lit(float(GUMBEL_RET_BLOCKS)))
    )
    return mm.select(
        F.col("n").alias("n_blocks"),
        F.round(mean, 4).alias("mean_max_cents"),
        F.round(sd, 4).alias("sd_max_cents"),
        F.round(beta, 4).alias("beta"),
        F.round(mu, 4).alias("mu"),
        F.round(ret, 4).alias("ret30_cents"),
    )




gumbel_maxima.__doc__ = gumbel_maxima.__doc__.format(
    T=GUMBEL_RET_BLOCKS
)




ORACLE_GUMBEL = f"""
gb_h AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
gb_d AS (
  SELECT CAST(h AS DATE) AS d, CAST(max(rev) AS BIGINT) AS mx
  FROM gb_h GROUP BY 1
),
gb_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(mx) AS BIGINT) AS s1,
         CAST(sum(mx * mx) AS BIGINT) AS s2
  FROM gb_d
),
gumbel_maxima AS (
  SELECT n AS n_blocks,
         round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 4)
           AS mean_max_cents,
         round(sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))),
               4) AS sd_max_cents,
         round(sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
               * sqrt(6.0) / {PI_LIT}, 4) AS beta,
         round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
               - {EULER_GAMMA} * (sqrt((CAST(n AS DOUBLE)
                   * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                   * CAST(s1 AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
                 * sqrt(6.0) / {PI_LIT}), 4) AS mu,
         round((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
               - {EULER_GAMMA} * (sqrt((CAST(n AS DOUBLE)
                   * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                   * CAST(s1 AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
                 * sqrt(6.0) / {PI_LIT}))
               - (sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))
                  * sqrt(6.0) / {PI_LIT})
                 * ln(-ln(1 - 1 / {float(GUMBEL_RET_BLOCKS)})), 4)
           AS ret30_cents
  FROM gb_m
)
"""




# ---------------------------------------------------------------------------
# Weibull fit by median-rank regression (round 7)
# ---------------------------------------------------------------------------


def weibull_fit(events: DataFrame) -> DataFrame:
    """Weibull (shape, scale) fit of the daily purchase-revenue
    distribution by MEDIAN-RANK REGRESSION — the probability-plot
    method reliability engineering standardizes on: sort the n day
    values, assign Bernard median ranks F_i = (i-0.3)/(n+0.4), and
    OLS ln(-ln(1-F_i)) on ln(x_i); the slope IS the Weibull shape k
    (k < 1 heavy-tailed/decreasing hazard), exp(-intercept/k) the
    scale. Complements the Gumbel block-maxima fit (domain of
    attraction vs body fit) and the Hill tail index.

    Determinism: the day series packs into ONE (x, day)-sorted array
    (calendar-bounded), and every regression sum is a SEQUENTIAL
    executor-side fold over positions 1..n — the record-days/Gumbel
    "same IEEE additions" protocol — so both engines add identical
    doubles in identical order before the 6-dp rounding.

    One corpus pass to day grain; the fold is O(days). Output
    (1 row): n_days, shape, scale_cents, r2.
    """
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.round(F.col("value") * 100, 0).cast("bigint")
            ).alias("x")
        )
        .filter(F.col("x") > 0)
    )
    packed = daily.agg(
        F.sort_array(F.collect_list(F.struct("x", "day"))).alias("s")
    )

    def fold(term: str) -> F.Column:
        # empty-series guard: sequence(1, 0) DESCENDS in Spark, so an
        # unguarded fold would index element_at(s, 0) and throw where
        # DuckDB's empty range() yields a NULL row (review finding).
        return F.expr(
            "if(size(s) = 0, cast(null as double),"
            " aggregate(sequence(1, size(s)), cast(0.0 as double),"
            f" (a, i) -> a + ({term})))"
        )

    lx = "ln(cast(element_at(s, i).x as double))"
    yy = (
        "ln(-ln(1.0 - (cast(i as double) - 0.3)"
        " / (cast(size(s) as double) + 0.4)))"
    )
    m = packed.select(
        F.expr("size(s)").alias("n"),
        fold(lx).alias("sx"),
        fold(yy).alias("sy"),
        fold(f"({lx}) * ({yy})").alias("sxy"),
        fold(f"({lx}) * ({lx})").alias("sxx"),
        fold(f"({yy}) * ({yy})").alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = nd * F.col("syy") - F.col("sy") * F.col("sy")
    k = num / denx
    b = (F.col("sy") - k * F.col("sx")) / nd
    return m.select(
        F.col("n").alias("n_days"),
        F.round(k, 6).alias("shape"),
        F.round(F.exp(-b / k), 2).alias("scale_cents"),
        F.round(num * num / (denx * deny), 6).alias("r2"),
    )




ORACLE_WEIBULL = """
wb_d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1
  HAVING sum(CAST(round(value * 100, 0) AS BIGINT)) > 0
),
wb_p AS (
  SELECT list(x ORDER BY x, day) AS s, CAST(count(*) AS BIGINT) AS n
  FROM wb_d
),
wb_m AS (
  SELECT n,
         list_aggregate(list_transform(range(1, n + 1),
           i -> ln(CAST(s[i] AS DOUBLE))), 'sum') AS sx,
         list_aggregate(list_transform(range(1, n + 1),
           i -> ln(-ln(1.0 - (CAST(i AS DOUBLE) - 0.3)
                             / (CAST(n AS DOUBLE) + 0.4)))), 'sum')
           AS sy,
         list_aggregate(list_transform(range(1, n + 1),
           i -> ln(CAST(s[i] AS DOUBLE))
                * ln(-ln(1.0 - (CAST(i AS DOUBLE) - 0.3)
                               / (CAST(n AS DOUBLE) + 0.4)))), 'sum')
           AS sxy,
         list_aggregate(list_transform(range(1, n + 1),
           i -> ln(CAST(s[i] AS DOUBLE))
                * ln(CAST(s[i] AS DOUBLE))), 'sum') AS sxx,
         list_aggregate(list_transform(range(1, n + 1),
           i -> ln(-ln(1.0 - (CAST(i AS DOUBLE) - 0.3)
                             / (CAST(n AS DOUBLE) + 0.4)))
                * ln(-ln(1.0 - (CAST(i AS DOUBLE) - 0.3)
                               / (CAST(n AS DOUBLE) + 0.4)))), 'sum')
           AS syy
  FROM wb_p
),
weibull_fit AS (
  SELECT n AS n_days,
         round((CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS shape,
         round(exp(-((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                            / (CAST(n AS DOUBLE) * sxx - sx * sx))
                           * sx) / CAST(n AS DOUBLE))
                   / ((CAST(n AS DOUBLE) * sxy - sx * sy)
                      / (CAST(n AS DOUBLE) * sxx - sx * sx))), 2)
           AS scale_cents,
         round((CAST(n AS DOUBLE) * sxy - sx * sy)
               * (CAST(n AS DOUBLE) * sxy - sx * sy)
               / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                  * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS r2
  FROM wb_m
)
"""




# ---------------------------------------------------------------------------
# one-sample KS goodness-of-fit: interarrival gaps vs exponential (round 7)
# ---------------------------------------------------------------------------


def ks_exponential(events: DataFrame) -> DataFrame:
    """One-sample Kolmogorov-Smirnov test of per-user interarrival
    gaps against the fitted EXPONENTIAL (rate = 1/mean gap): is the
    arrival process memoryless — the Poisson-process assumption the
    queueing family (Erlang-B/C) quietly makes, here tested instead
    of assumed. The two-sample KS (``events_ks_drift``) compares two
    empirical samples; this compares one sample to an analytic CDF,
    so D must be evaluated on BOTH sides of each ECDF jump (the sup
    can land at F(x-) as well as F(x)).

    Gaps come from the user-partitioned deterministic lag (the
    ``user_interarrival_stats`` kernel); the ECDF rides the
    octave-bucket prefix kernel at ms value grain (zero global
    windows), counts stay exact BIGINTs, and the analytic CDF
    1 - exp(-g*n/S) is one mirrored double chain per distinct value.
    D rounds at 6 dp; reject uses the asymptotic 5% bound
    1.358/sqrt(n) (rounded before compare, the literal-guard
    convention).

    One shuffle to user partitions + value-grain algebra. Output
    (1 row): n_gaps, mean_gap_ms, d_stat, reject.
    """
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gaps = (
        events.select(
            "user_id",
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
        )
        .withColumn(
            "g", F.col("ts_ms") - F.lag("ts_ms").over(w)
        )
        .filter(F.col("g").isNotNull())
    )
    vg = gaps.groupBy("g").agg(F.count("*").alias("cnt"))
    pre = _rank.value_prefix(vg, ["cnt"], "g", inclusive=True)
    tot = vg.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("g") * F.col("cnt")).alias("s"),
    )
    j = pre.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    fe = 1 - F.exp(
        -F.col("g").cast("double") * nd / F.col("s").cast("double")
    )
    hi = F.abs(F.col("_pre_cnt").cast("double") / nd - fe)
    lo = F.abs(
        (F.col("_pre_cnt") - F.col("cnt")).cast("double") / nd - fe
    )
    m = j.groupBy("n", "s").agg(
        F.round(F.max(F.greatest(hi, lo)), 6).alias("d_stat")
    )
    return m.select(
        F.col("n").alias("n_gaps"),
        F.round(
            F.col("s").cast("double") / F.col("n").cast("double"), 4
        ).alias("mean_gap_ms"),
        "d_stat",
        (
            F.col("d_stat")
            > F.round(1.358 / F.sqrt(F.col("n").cast("double")), 6)
        ).alias("reject"),
    )




ORACLE_KS_EXPONENTIAL = """
ke_g AS (
  SELECT ts_ms - lag(ts_ms) OVER (
           PARTITION BY user_id ORDER BY ts_ms, event_id) AS g
  FROM (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events)
),
ke_v AS (
  SELECT g, CAST(count(*) AS BIGINT) AS cnt
  FROM ke_g WHERE g IS NOT NULL GROUP BY 1
),
ke_p AS (
  SELECT g, cnt,
         CAST(sum(cnt) OVER (ORDER BY g
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum
  FROM ke_v
),
ke_t AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(g * cnt) AS BIGINT) AS s
  FROM ke_v
),
ke_d AS (
  SELECT t.n, t.s,
         round(max(greatest(
           abs(CAST(p.cum AS DOUBLE) / t.n
               - (1 - exp(-CAST(p.g AS DOUBLE) * t.n / t.s))),
           abs(CAST(p.cum - p.cnt AS DOUBLE) / t.n
               - (1 - exp(-CAST(p.g AS DOUBLE) * t.n / t.s)))
         )), 6) AS d_stat
  FROM ke_p p, ke_t t GROUP BY 1, 2
),
ks_exponential AS (
  SELECT n AS n_gaps,
         round(CAST(s AS DOUBLE) / n, 4) AS mean_gap_ms,
         d_stat,
         d_stat > round(1.358 / sqrt(CAST(n AS DOUBLE)), 6)
           AS reject
  FROM ke_d
)
"""




# ---------------------------------------------------------------------------
# Bass diffusion model fit (round 8)
# ---------------------------------------------------------------------------


def bass_model(orders: DataFrame) -> DataFrame:
    """Bass (1969) diffusion fit over the customer ADOPTION series
    (first order per customer, daily, calendar-gap-filled): the OLS
    discretization a_t = c0 + c1 N_{t-1} + c2 N_{t-1}^2, from which
    the market size M (positive root of c0 + c1 M + c2 M^2 = 0),
    innovation coefficient p = c0/M, imitation coefficient q = -c2 M,
    and the closed-form adoption-peak time ln(q/p)/(p+q) — the
    "when does growth saturate and how large is the market" readout a
    growth team fits on signup curves. On the fixture the recovered M
    lands within ~0.3% of the true adopter count.

    Protocol: adopters/day and cumulative N are exact BIGINTs; the 7
    normal-equation sums (sum N^k, sum a N^k) fold over the PACKED
    day-sorted array with a running-N accumulator — each term is
    CAST(bigint AS DOUBLE) then multiplied, added sequentially in day
    order in both engines (the record-days protocol; N^4 sums overflow
    BIGINT past ~30k customers, so the mirrored double fold IS the
    scale-correct form). Cramer's rule for the 3x3 solve is one
    mirrored double chain; M/p/q/peak guard on disc >= 0 and c2 != 0.

    Scale: one customer-grain min() agg, one day-grain agg, then a
    t-days-bounded packed fold (SCALE.md bounded-grain argument — the
    calendar does not grow with row count). Output (1 row): t_days,
    n_adopters, c0, c1, c2, m_hat, p_hat, q_hat, peak_t.
    """
    fo = orders.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("day")
    )
    ad = fo.groupBy("day").agg(F.count("*").alias("a"))
    bounds = ad.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = bounds.select(
        F.explode(F.expr("sequence(d0, d1)")).alias("day"), "d0"
    )
    daily = cal.join(ad, "day", "left").select(
        F.datediff("day", "d0").cast("bigint").alias("d"),
        F.coalesce("a", F.lit(0)).cast("bigint").alias("a"),
    )
    packed = daily.agg(
        F.sort_array(F.collect_list(F.struct("d", "a"))).alias("s"),
        F.count("*").alias("t"),
        F.sum("a").alias("n_adopters"),
    )

    def _fold(term: str) -> F.Column:
        """Sequential day-order fold of ``term`` (over fields x.a and
        the running cumulative np, both exact BIGINTs cast to double
        inside the term) — one accumulator per sum, no window."""
        return F.expr(
            "aggregate(s,"
            " named_struct('acc', cast(0.0 as double),"
            "              'np', cast(0 as bigint)),"
            f" (ac, x) -> named_struct('acc', ac.acc + ({term}),"
            "             'np', ac.np + x.a),"
            " ac -> ac.acc)"
        )

    nd = "cast(ac.np as double)"
    ad_ = "cast(x.a as double)"
    sums = packed.select(
        "t",
        "n_adopters",
        _fold(f"{nd}").alias("s1"),
        _fold(f"{nd} * {nd}").alias("s2"),
        _fold(f"{nd} * {nd} * {nd}").alias("s3"),
        _fold(f"{nd} * {nd} * {nd} * {nd}").alias("s4"),
        _fold(f"{ad_}").alias("sy"),
        _fold(f"{ad_} * {nd}").alias("s1y"),
        _fold(f"{ad_} * {nd} * {nd}").alias("s2y"),
    )
    t = F.col("t").cast("double")
    s1, s2, s3, s4 = (F.col(c) for c in ("s1", "s2", "s3", "s4"))
    sy, s1y, s2y = (F.col(c) for c in ("sy", "s1y", "s2y"))
    det = (
        t * (s2 * s4 - s3 * s3)
        - s1 * (s1 * s4 - s3 * s2)
        + s2 * (s1 * s3 - s2 * s2)
    )
    c0 = (
        sy * (s2 * s4 - s3 * s3)
        - s1 * (s1y * s4 - s3 * s2y)
        + s2 * (s1y * s3 - s2 * s2y)
    ) / det
    c1 = (
        t * (s1y * s4 - s3 * s2y)
        - sy * (s1 * s4 - s3 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    ) / det
    c2 = (
        t * (s2 * s2y - s1y * s3)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s3 - s2 * s2)
    ) / det
    coef = sums.select(
        "t", "n_adopters", c0.alias("c0"), c1.alias("c1"), c2.alias("c2")
    )
    disc = F.col("c1") * F.col("c1") - 4 * F.col("c2") * F.col("c0")
    ok = (disc >= 0) & (F.col("c2") != 0)
    m = F.when(
        ok,
        (-F.col("c1") - F.sqrt(disc)) / (2 * F.col("c2")),
    )
    p = F.col("c0") / m
    q = -F.col("c2") * m
    peak = F.when(
        (p > 0) & (q > 0), F.log(q / p) / (p + q)
    )
    return coef.select(
        F.col("t").alias("t_days"),
        "n_adopters",
        F.round("c0", 6).alias("c0"),
        F.round(F.col("c1"), 8).alias("c1"),
        F.round(F.col("c2"), 12).alias("c2"),
        F.round(m, 4).alias("m_hat"),
        F.round(p, 8).alias("p_hat"),
        F.round(q, 8).alias("q_hat"),
        F.round(peak, 4).alias("peak_t"),
    )




ORACLE_BASS = """
bs_fo AS (
  SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS day
  FROM orders GROUP BY 1
),
bs_ad AS (SELECT day, CAST(count(*) AS BIGINT) AS a
          FROM bs_fo GROUP BY 1),
bs_b AS (SELECT min(day) AS d0, max(day) AS d1 FROM bs_ad),
bs_cal AS (
  SELECT CAST(u.day AS DATE) AS day, b.d0
  FROM bs_b b, unnest(generate_series(CAST(b.d0 AS TIMESTAMP),
                                      CAST(b.d1 AS TIMESTAMP),
                                      INTERVAL 1 DAY)) AS u(day)
),
bs_daily AS (
  SELECT CAST(date_diff('day', c.d0, c.day) AS BIGINT) AS d,
         CAST(coalesce(a.a, 0) AS BIGINT) AS a
  FROM bs_cal c LEFT JOIN bs_ad a USING (day)
),
bs_np AS (
  SELECT d, a,
         CAST(sum(a) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) - a AS BIGINT)
           AS np
  FROM bs_daily
),
bs_pack AS (SELECT list({'a': a, 'np': np} ORDER BY d) AS s,
                   CAST(count(*) AS BIGINT) AS t,
                   CAST(sum(a) AS BIGINT) AS n_adopters
            FROM bs_np),
bs_sums AS (
  SELECT t, n_adopters,
   list_aggregate(list_transform(s,
     x -> CAST(x.np AS DOUBLE)), 'sum') AS s1,
   list_aggregate(list_transform(s,
     x -> CAST(x.np AS DOUBLE) * CAST(x.np AS DOUBLE)), 'sum') AS s2,
   list_aggregate(list_transform(s,
     x -> CAST(x.np AS DOUBLE) * CAST(x.np AS DOUBLE)
          * CAST(x.np AS DOUBLE)), 'sum') AS s3,
   list_aggregate(list_transform(s,
     x -> CAST(x.np AS DOUBLE) * CAST(x.np AS DOUBLE)
          * CAST(x.np AS DOUBLE) * CAST(x.np AS DOUBLE)), 'sum') AS s4,
   list_aggregate(list_transform(s,
     x -> CAST(x.a AS DOUBLE)), 'sum') AS sy,
   list_aggregate(list_transform(s,
     x -> CAST(x.a AS DOUBLE) * CAST(x.np AS DOUBLE)), 'sum') AS s1y,
   list_aggregate(list_transform(s,
     x -> CAST(x.a AS DOUBLE) * CAST(x.np AS DOUBLE)
          * CAST(x.np AS DOUBLE)), 'sum') AS s2y
  FROM bs_pack
),
bs_c AS (
  SELECT t, n_adopters,
    (sy * (s2 * s4 - s3 * s3) - s1 * (s1y * s4 - s3 * s2y)
       + s2 * (s1y * s3 - s2 * s2y))
      / (CAST(t AS DOUBLE) * (s2 * s4 - s3 * s3)
         - s1 * (s1 * s4 - s3 * s2)
         + s2 * (s1 * s3 - s2 * s2)) AS c0,
    (CAST(t AS DOUBLE) * (s1y * s4 - s3 * s2y)
       - sy * (s1 * s4 - s3 * s2)
       + s2 * (s1 * s2y - s1y * s2))
      / (CAST(t AS DOUBLE) * (s2 * s4 - s3 * s3)
         - s1 * (s1 * s4 - s3 * s2)
         + s2 * (s1 * s3 - s2 * s2)) AS c1,
    (CAST(t AS DOUBLE) * (s2 * s2y - s1y * s3)
       - s1 * (s1 * s2y - s1y * s2)
       + sy * (s1 * s3 - s2 * s2))
      / (CAST(t AS DOUBLE) * (s2 * s4 - s3 * s3)
         - s1 * (s1 * s4 - s3 * s2)
         + s2 * (s1 * s3 - s2 * s2)) AS c2
  FROM bs_sums
),
bs_m AS (
  SELECT t, n_adopters, c0, c1, c2,
         CASE WHEN c1 * c1 - 4 * c2 * c0 >= 0 AND c2 <> 0
              THEN (-c1 - sqrt(c1 * c1 - 4 * c2 * c0)) / (2 * c2)
         END AS m
  FROM bs_c
),
orders_bass_model AS (
  SELECT t AS t_days, n_adopters,
         round(c0, 6) AS c0, round(c1, 8) AS c1, round(c2, 12) AS c2,
         round(m, 4) AS m_hat,
         round(c0 / m, 8) AS p_hat,
         round(-c2 * m, 8) AS q_hat,
         round(CASE WHEN c0 / m > 0 AND -c2 * m > 0
                    THEN ln((-c2 * m) / (c0 / m))
                         / (c0 / m + (-c2 * m)) END, 4) AS peak_t
  FROM bs_m
)
"""




# ---------------------------------------------------------------------------
# negative-binomial method-of-moments fit (round 8)
# ---------------------------------------------------------------------------


def nb_fit(events: DataFrame) -> DataFrame:
    """Negative-binomial method-of-moments fit of the per-user
    purchase-count distribution — the FIT companion to the
    overdispersion TEST (``events_overdispersion``): once the VMR says
    counts are overdispersed, the modeling question is "which NB", and
    the MoM answer is closed-form: r = m^2/(v - m), p = m/v (NULL when
    v <= m — under/equi-dispersed data has no NB fit, exactly the case
    the test flags). r is the heterogeneity readout a growth model
    (NBD, gamma-Poisson mixtures) consumes directly.

    Counts and both raw moments are exact BIGINTs from one user-grain
    hash-agg (users with zero purchases INCLUDED via the left join —
    dropping them biases m upward, the classic NBD mistake); mean,
    variance (n-1 denominator), VMR, r, p are one mirrored double
    chain rounded 6 dp. Output (1 row): n_users, mean_purchases,
    var_purchases, vmr, nb_r, nb_p.
    """
    users = events.select("user_id").distinct()
    pc = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("k"))
    )
    counts = users.join(pc, "user_id", "left").select(
        F.coalesce("k", F.lit(0)).cast("bigint").alias("k")
    )
    m = counts.agg(
        F.count("*").alias("n"),
        F.sum("k").alias("s"),
        F.sum(F.col("k") * F.col("k")).alias("s2"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s").cast("double") / n
    var = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / n
    ) / (n - 1)
    r = F.when(var > mean, mean * mean / (var - mean))
    p = F.when(var > mean, mean / var)
    return m.select(
        F.col("n").alias("n_users"),
        F.round(mean, 6).alias("mean_purchases"),
        F.round(var, 6).alias("var_purchases"),
        F.round(var / mean, 6).alias("vmr"),
        F.round(r, 6).alias("nb_r"),
        F.round(p, 6).alias("nb_p"),
    )




ORACLE_NB_FIT = """
nbf_u AS (SELECT DISTINCT user_id FROM events),
nbf_p AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS k
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
nbf_c AS (
  SELECT CAST(coalesce(p.k, 0) AS BIGINT) AS k
  FROM nbf_u u LEFT JOIN nbf_p p USING (user_id)
),
nbf_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS s,
         CAST(sum(k * k) AS BIGINT) AS s2
  FROM nbf_c
),
events_nb_fit AS (
  SELECT n AS n_users,
         round(CAST(s AS DOUBLE) / n, 6) AS mean_purchases,
         round((CAST(s2 AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                  / CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) - 1), 6) AS var_purchases,
         round(((CAST(s2 AS DOUBLE)
                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(n AS DOUBLE))
                / (CAST(n AS DOUBLE) - 1))
               / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS vmr,
         round(CASE WHEN (CAST(s2 AS DOUBLE)
                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)
                 > CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               THEN (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    / ((CAST(s2 AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                          / CAST(n AS DOUBLE))
                       / (CAST(n AS DOUBLE) - 1)
                       - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               END, 6) AS nb_r,
         round(CASE WHEN (CAST(s2 AS DOUBLE)
                 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)
                 > CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
               THEN (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    / ((CAST(s2 AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                          / CAST(n AS DOUBLE))
                       / (CAST(n AS DOUBLE) - 1))
               END, 6) AS nb_p
  FROM nbf_m
)
"""




# ---------------------------------------------------------------------------
# gamma method-of-moments fit per order priority (round 8)
# ---------------------------------------------------------------------------


def gamma_fit(orders: DataFrame) -> DataFrame:
    """Gamma method-of-moments fit of order totals per priority class
    — the positive-continuous member of the distribution-fitting shelf
    (Weibull for lifetimes, Gumbel for extremes, NB for counts): shape
    k = m^2/v, scale theta = v/m, closed-form from two exact moments.
    Basket/order totals are the canonical gamma-shaped metric, and
    (k, theta) feed straight into Erlang/newsvendor-style downstream
    models; k < 1 vs k > 1 distinguishes hyper-exponential from
    bell-shaped spend in one number.

    Totals quantize to exact cents (floor, BIGINT) so both raw moments
    are exact integer sums at any partitioning; mean/variance convert
    back to the price scale at the edge (/100, /100^2) in one mirrored
    double chain, rounded 6 dp. NULL fit when a class has < 2 orders
    or zero variance. One priority-grain hash-agg; 5-row output:
    priority, n_orders, mean_total, var_total, gamma_shape,
    gamma_scale.
    """
    c = F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
    m = orders.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count("*").alias("n"),
        F.sum(c).alias("s"),
        F.sum(c * c).alias("s2"),
    )
    nd = F.col("n").cast("double")
    mean_c = F.col("s").cast("double") / nd
    var_c = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / nd
    ) / (nd - 1)
    mean_p = mean_c / 100
    var_p = var_c / 10000
    ok = (F.col("n") > 1) & (var_c > 0)
    return m.select(
        "priority",
        F.col("n").alias("n_orders"),
        F.round(mean_p, 6).alias("mean_total"),
        F.round(var_p, 6).alias("var_total"),
        F.round(
            F.when(ok, mean_p * mean_p / var_p), 6
        ).alias("gamma_shape"),
        F.round(F.when(ok, var_p / mean_p), 6).alias("gamma_scale"),
    )




ORACLE_GAMMA_FIT = """
gmf AS (
  SELECT o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS s,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)
                  * CAST(floor(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS s2
  FROM orders GROUP BY 1
),
orders_gamma_fit AS (
  SELECT priority, n AS n_orders,
         round(CAST(s AS DOUBLE) / n / 100, 6) AS mean_total,
         round((CAST(s2 AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                  / CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) - 1) / 10000, 6) AS var_total,
         round(CASE WHEN n > 1 AND (CAST(s2 AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                  / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) > 0
               THEN (CAST(s AS DOUBLE) / n / 100)
                    * (CAST(s AS DOUBLE) / n / 100)
                    / ((CAST(s2 AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                          / CAST(n AS DOUBLE))
                       / (CAST(n AS DOUBLE) - 1) / 10000)
               END, 6) AS gamma_shape,
         round(CASE WHEN n > 1 AND (CAST(s2 AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                  / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) > 0
               THEN ((CAST(s2 AS DOUBLE)
                      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                        / CAST(n AS DOUBLE))
                     / (CAST(n AS DOUBLE) - 1) / 10000)
                    / (CAST(s AS DOUBLE) / n / 100)
               END, 6) AS gamma_scale
  FROM gmf
)
"""



# ---------------------------------------------------------------------------
# von Mises concentration (r9): circular statistics of purchase
# hour-of-day. The Rayleigh query tests IF the clock distribution is
# non-uniform; this fits HOW concentrated it is — mean resultant
# length and Fisher's closed-form kappa approximation, the circular
# sibling of a normal sigma. Completes the circular shelf
# (uniformity test -> concentration fit).
# ---------------------------------------------------------------------------

#: cos/sin of 2*pi*h/24, evaluated ONCE in Python and embedded as
#: full-precision literals in BOTH engines (the packed-trig protocol:
#: libm cos/sin are not correctly rounded, so neither engine computes
#: them — they only multiply/add the shared literals).
VONMISES_TRIG = [
        (0, 1.0, 0.0),
        (1, 0.9659258262890683, 0.25881904510252074),
        (2, 0.8660254037844387, 0.49999999999999994),
        (3, 0.7071067811865476, 0.7071067811865475),
        (4, 0.5000000000000001, 0.8660254037844386),
        (5, 0.25881904510252074, 0.9659258262890683),
        (6, 6.123233995736766e-17, 1.0),
        (7, -0.25881904510252063, 0.9659258262890683),
        (8, -0.4999999999999998, 0.8660254037844387),
        (9, -0.7071067811865475, 0.7071067811865476),
        (10, -0.8660254037844387, 0.49999999999999994),
        (11, -0.9659258262890682, 0.258819045102521),
        (12, -1.0, 1.2246467991473532e-16),
        (13, -0.9659258262890683, -0.2588190451025208),
        (14, -0.8660254037844388, -0.4999999999999997),
        (15, -0.7071067811865479, -0.7071067811865471),
        (16, -0.5000000000000004, -0.8660254037844384),
        (17, -0.25881904510252063, -0.9659258262890683),
        (18, -1.8369701987210297e-16, -1.0),
        (19, 0.2588190451025203, -0.9659258262890684),
        (20, 0.5000000000000001, -0.8660254037844386),
        (21, 0.7071067811865474, -0.7071067811865477),
        (22, 0.8660254037844384, -0.5000000000000004),
        (23, 0.9659258262890681, -0.25881904510252157),
]

#: resultant length above this counts as "concentrated".
VONMISES_R_MIN = 0.1


def vonmises_fit(events: DataFrame) -> DataFrame:
    """Mean resultant vector + Fisher (1993) kappa for purchase hours.

    C = sum n_h*cos_h, S = sum n_h*sin_h over the 24-row hour grain
    (integer counts x shared literals; the two sums round at 6 before
    anything derives from them), r_bar = sqrt(C^2 + S^2)/n, and kappa
    by the standard three-branch rational approximation (only
    +-*/ and sqrt — no pow/ln/trig at query time). Output (1 row):
    n, c_bar, s_bar, r_bar, kappa, concentrated.

    Scale: one 24-row hash-agg over the filtered corpus; constant
    arithmetic after.
    """
    spark = events.sparkSession
    trig = local_rows(
        spark, VONMISES_TRIG, "h int, cosv double, sinv double"
    )
    hours = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.hour("ts").cast("int").alias("h"))
        .agg(F.count("*").alias("n_h"))
    )
    j = hours.join(F.broadcast(trig), "h")
    agg = j.agg(
        F.sum("n_h").alias("n"),
        F.round(F.sum(F.col("n_h") * F.col("cosv")), 6).alias("cs"),
        F.round(F.sum(F.col("n_h") * F.col("sinv")), 6).alias("ss"),
    )
    nd = F.col("n").cast("double")
    r = F.sqrt(F.col("cs") * F.col("cs") + F.col("ss") * F.col("ss")) / nd
    rr = F.round(r, 6)
    kappa = (
        F.when(rr < 0.53, 2 * rr + rr * rr * rr
               + 5 * (rr * rr * rr * rr * rr) / 6)
        .when(rr < 0.85, -0.4 + 1.39 * rr + 0.43 / (1 - rr))
        .otherwise(1 / (rr * rr * rr - 4 * rr * rr + 3 * rr))
    )
    return agg.select(
        "n",
        F.round(F.col("cs") / nd, 6).alias("c_bar"),
        F.round(F.col("ss") / nd, 6).alias("s_bar"),
        rr.alias("r_bar"),
        F.round(kappa, 6).alias("kappa"),
        (rr > VONMISES_R_MIN).alias("concentrated"),
    )


ORACLE_VONMISES = f"""
vm_trig(h, cosv, sinv) AS (
  VALUES
    (0, 1.0, 0.0),
    (1, 0.9659258262890683, 0.25881904510252074),
    (2, 0.8660254037844387, 0.49999999999999994),
    (3, 0.7071067811865476, 0.7071067811865475),
    (4, 0.5000000000000001, 0.8660254037844386),
    (5, 0.25881904510252074, 0.9659258262890683),
    (6, 6.123233995736766e-17, 1.0),
    (7, -0.25881904510252063, 0.9659258262890683),
    (8, -0.4999999999999998, 0.8660254037844387),
    (9, -0.7071067811865475, 0.7071067811865476),
    (10, -0.8660254037844387, 0.49999999999999994),
    (11, -0.9659258262890682, 0.258819045102521),
    (12, -1.0, 1.2246467991473532e-16),
    (13, -0.9659258262890683, -0.2588190451025208),
    (14, -0.8660254037844388, -0.4999999999999997),
    (15, -0.7071067811865479, -0.7071067811865471),
    (16, -0.5000000000000004, -0.8660254037844384),
    (17, -0.25881904510252063, -0.9659258262890683),
    (18, -1.8369701987210297e-16, -1.0),
    (19, 0.2588190451025203, -0.9659258262890684),
    (20, 0.5000000000000001, -0.8660254037844386),
    (21, 0.7071067811865474, -0.7071067811865477),
    (22, 0.8660254037844384, -0.5000000000000004),
    (23, 0.9659258262890681, -0.25881904510252157)
),
vm_hours AS (
  SELECT CAST(hour(ts) AS INT) AS h, CAST(count(*) AS BIGINT) AS n_h
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
vm_agg AS (
  SELECT CAST(sum(n_h) AS BIGINT) AS n,
         round(sum(n_h * t.cosv), 6) AS cs,
         round(sum(n_h * t.sinv), 6) AS ss
  FROM vm_hours JOIN vm_trig t USING (h)
),
vm_r AS (
  SELECT n, cs, ss,
         round(sqrt(cs * cs + ss * ss) / CAST(n AS DOUBLE), 6) AS rr
  FROM vm_agg
),
events_vonmises AS (
  SELECT n,
         round(cs / CAST(n AS DOUBLE), 6) AS c_bar,
         round(ss / CAST(n AS DOUBLE), 6) AS s_bar,
         rr AS r_bar,
         round(CASE
           WHEN rr < 0.53 THEN 2 * rr + rr * rr * rr
                + 5 * (rr * rr * rr * rr * rr) / 6
           WHEN rr < 0.85 THEN -0.4 + 1.39 * rr + 0.43 / (1 - rr)
           ELSE 1 / (rr * rr * rr - 4 * rr * rr + 3 * rr)
         END, 6) AS kappa,
         rr > {VONMISES_R_MIN} AS concentrated
  FROM vm_r
)
"""
