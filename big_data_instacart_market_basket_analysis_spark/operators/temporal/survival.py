"""[EXT] Survival analysis: KM, Nelson-Aalen, log-rank, RMST, discrete Cox PH.

Split from the monolithic ``operators/temporal.py`` (r8 verdict task 2); see the package ``__init__`` for provenance. All docstring citations to the reference (F.py) are preserved on the operators themselves.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_instacart_market_basket_analysis_spark.operators import (
    ranking as _rank,
)
from .._staging import cut as _cut



# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve (user churn)
# ---------------------------------------------------------------------------

KM_CENSOR_DAYS = 7




def km_survival(events: DataFrame) -> DataFrame:
    """Kaplan-Meier survival estimator over user lifetimes: duration =
    days between a user's first and last event; users still active in
    the final KM_CENSOR_DAYS of the observation window are CENSORED
    (they inform the risk sets but contribute no churn event) — the
    right-censoring handling that makes KM the survival tool naive
    "avg lifetime" cannot be.

    S(t) = prod over churn times <= t of (1 - d_i/n_i). The product is
    a cumulative sum of ln terms over the ORDERED distinct-duration
    table (bounded by the day span, not users), so both engines fold
    in the identical order; output rounds(6). n_i (at risk) = total
    minus the running count of users who exited earlier. Output per
    churn time: t_days, n_risk, n_churned, survival.
    """
    spans = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    horizon = events.agg(F.max(F.to_date("ts")).alias("dmax"))
    users = spans.crossJoin(F.broadcast(horizon)).select(
        F.datediff("d1", "d0").alias("t_days"),
        (
            F.datediff("dmax", "d1") < KM_CENSOR_DAYS
        ).alias("censored"),
    )
    per_t = users.groupBy("t_days").agg(
        F.count("*").alias("n_exit"),
        F.sum(F.when(~F.col("censored"), 1).otherwise(0)).alias(
            "n_churned"
        ),
    )
    w = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wS = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    total = users.count()
    curve = (
        per_t.withColumn(
            "n_risk",
            F.lit(total) - F.coalesce(F.sum("n_exit").over(w), F.lit(0)),
        )
        .withColumn(
            "lnterm",
            F.when(
                F.col("n_churned") > 0,
                F.log(
                    F.lit(1.0)
                    - F.col("n_churned") / F.col("n_risk")
                ),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "survival", F.round(F.exp(F.sum("lnterm").over(wS)), 6)
        )
    )
    return curve.filter(F.col("n_churned") > 0).select(
        "t_days", "n_risk", "n_churned", "survival"
    )




ORACLE_KM_SURVIVAL = f"""
kms_u AS (
  SELECT date_diff('day', d0, d1) AS t_days,
         date_diff('day', d1,
                   (SELECT max(CAST(ts AS DATE)) FROM events))
           < {KM_CENSOR_DAYS} AS censored
  FROM (SELECT user_id, min(CAST(ts AS DATE)) AS d0,
               max(CAST(ts AS DATE)) AS d1
        FROM events GROUP BY 1)
),
kms_t AS (
  SELECT t_days, CAST(count(*) AS BIGINT) AS n_exit,
         CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
           AS n_churned
  FROM kms_u GROUP BY 1
),
kms_c AS (
  SELECT t_days, n_churned,
         (SELECT count(*) FROM kms_u)
           - COALESCE(sum(n_exit) OVER (ORDER BY t_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk,
         CASE WHEN n_churned > 0
              THEN ln(1.0 - n_churned / ((SELECT count(*) FROM kms_u)
                   - COALESCE(sum(n_exit) OVER (ORDER BY t_days
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0)))
              ELSE 0.0 END AS lnterm
  FROM kms_t
),
km_survival AS (
  SELECT t_days, CAST(n_risk AS BIGINT) AS n_risk, n_churned,
         round(exp(sum(lnterm) OVER (ORDER BY t_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
           AS survival
  FROM kms_c
  WHERE n_churned > 0
)
"""




# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (companion of Kaplan-Meier)
# ---------------------------------------------------------------------------


def nelson_aalen(events: DataFrame) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over the same
    censored user lifetimes as ``km_survival``: H(t) = Σ_{t_i<=t}
    d_i/n_i, with the Poisson variance Σ d_i/n_i² and the
    Fleming-Harrington survival exp(−H) beside it — the hazard-scale
    view KM's product form cannot give (H is additive, so hazards of
    disjoint cohorts/windows merge by +).

    Identical distributed shape to KM: one user-grain span agg, one
    distinct-duration grain table (bounded by the day span), and
    cumulative sums over the ORDERED duration grain — both engines
    fold the d/n rationals in the same order, so results agree to the
    last double bit before round(6).

    Output per churn time: t_days, n_risk, n_churned, cum_hazard,
    var_hazard, fh_survival.
    """
    spans = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    horizon = events.agg(F.max(F.to_date("ts")).alias("dmax"))
    users = spans.crossJoin(F.broadcast(horizon)).select(
        F.datediff("d1", "d0").alias("t_days"),
        (F.datediff("dmax", "d1") < KM_CENSOR_DAYS).alias("censored"),
    )
    per_t = users.groupBy("t_days").agg(
        F.count("*").alias("n_exit"),
        F.sum(F.when(~F.col("censored"), 1).otherwise(0)).alias(
            "n_churned"
        ),
    )
    w = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wS = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    total = users.count()
    nr = F.lit(total) - F.coalesce(F.sum("n_exit").over(w), F.lit(0))
    curve = (
        per_t.withColumn("n_risk", nr)
        .withColumn(
            "hterm",
            F.col("n_churned").cast("double")
            / F.col("n_risk").cast("double"),
        )
        .withColumn(
            "vterm",
            F.col("n_churned").cast("double")
            / (
                F.col("n_risk").cast("double")
                * F.col("n_risk").cast("double")
            ),
        )
        .withColumn("h", F.sum("hterm").over(wS))
        .withColumn("v", F.sum("vterm").over(wS))
    )
    return curve.filter(F.col("n_churned") > 0).select(
        "t_days",
        "n_risk",
        "n_churned",
        F.round("h", 6).alias("cum_hazard"),
        F.round("v", 6).alias("var_hazard"),
        F.round(F.exp(-F.col("h")), 6).alias("fh_survival"),
    )




ORACLE_NELSON_AALEN = f"""
na_u AS (
  SELECT date_diff('day', d0, d1) AS t_days,
         date_diff('day', d1,
                   (SELECT max(CAST(ts AS DATE)) FROM events))
           < {KM_CENSOR_DAYS} AS censored
  FROM (SELECT user_id, min(CAST(ts AS DATE)) AS d0,
               max(CAST(ts AS DATE)) AS d1
        FROM events GROUP BY 1)
),
na_t AS (
  SELECT t_days, CAST(count(*) AS BIGINT) AS n_exit,
         CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
           AS n_churned
  FROM na_u GROUP BY 1
),
na_c AS (
  SELECT t_days, n_churned,
         CAST((SELECT count(*) FROM na_u)
           - COALESCE(sum(n_exit) OVER (ORDER BY t_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
  FROM na_t
),
na_h AS (
  SELECT t_days, n_risk, n_churned,
         sum(CAST(n_churned AS DOUBLE) / CAST(n_risk AS DOUBLE))
           OVER (ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS h,
         sum(CAST(n_churned AS DOUBLE)
             / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)))
           OVER (ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS v
  FROM na_c
),
nelson_aalen AS (
  SELECT t_days, n_risk, n_churned,
         round(h, 6) AS cum_hazard,
         round(v, 6) AS var_hazard,
         round(exp(-h), 6) AS fh_survival
  FROM na_h WHERE n_churned > 0
)
"""




# ---------------------------------------------------------------------------
# log-rank test (survival difference between the A/B arms)
# ---------------------------------------------------------------------------


def logrank_test(events: DataFrame) -> DataFrame:
    """Log-rank test comparing the two arms' churn survival curves —
    the hypothesis test the KM/Nelson-Aalen estimators describe: at
    each distinct churn time, arm 1's observed churn d1 is compared
    to its hypergeometric expectation d·n1/n given the at-risk sets,
    and z = Σ(O−E)/sqrt(ΣV). Censoring (active in the final window)
    is handled exactly as in ``km_survival``.

    All at-risk counts are exact BIGINT prefix-sums over the ordered
    distinct-DURATION grain (bounded by the day span); the O−E and
    variance terms are per-row scalars on those integers, summed over
    the duration grain (noise ~1e-15 vs the 6-dp edge). V terms with
    n ≤ 1 are 0 by definition.

    Output (1 row): n_times, o1, e1, z, significant.
    """
    spans = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
        F.max(F.col("user_id") % 2).alias("arm"),
    )
    horizon = events.agg(F.max(F.to_date("ts")).alias("dmax"))
    users = spans.crossJoin(F.broadcast(horizon)).select(
        F.datediff("d1", "d0").alias("t_days"),
        (F.datediff("dmax", "d1") < KM_CENSOR_DAYS).alias("censored"),
        F.col("arm").cast("int").alias("arm"),
    )
    per_t = users.groupBy("t_days").agg(
        F.count("*").alias("ex"),
        F.sum(F.when(~F.col("censored"), 1).otherwise(0)).alias("ch"),
        F.sum("arm").alias("ex1"),
        F.sum(
            F.when(~F.col("censored"), F.col("arm")).otherwise(0)
        ).alias("ch1"),
    )
    tot = users.agg(
        F.count("*").alias("nn"), F.sum("arm").alias("nn1")
    )
    w = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = (
        per_t.withColumn(
            "cex", F.coalesce(F.sum("ex").over(w), F.lit(0))
        )
        .withColumn(
            "cex1", F.coalesce(F.sum("ex1").over(w), F.lit(0))
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "ch",
            "ch1",
            (F.col("nn") - F.col("cex")).alias("n"),
            (F.col("nn1") - F.col("cex1")).alias("n1"),
        )
        .filter(F.col("ch") > 0)
    )
    nd = F.col("n").cast("double")
    n1d = F.col("n1").cast("double")
    chd = F.col("ch").cast("double")
    eterm = chd * n1d / nd
    vterm = F.when(
        F.col("n") > 1,
        chd
        * (n1d / nd)
        * (1.0 - n1d / nd)
        * (nd - chd)
        / (nd - 1.0),
    ).otherwise(F.lit(0.0))
    agg = risk.agg(
        F.count("*").alias("n_times"),
        F.sum("ch1").alias("o1"),
        F.sum(eterm).alias("e1"),
        F.sum(F.col("ch1").cast("double") - eterm).alias("ome"),
        F.sum(vterm).alias("v"),
    )
    z = F.col("ome") / F.sqrt(F.col("v"))
    return agg.select(
        "n_times",
        "o1",
        F.round("e1", 6).alias("e1"),
        F.round(z, 6).alias("z"),
        (F.abs(F.round(z, 6)) > 1.96).alias("significant"),
    )




ORACLE_LOGRANK = f"""
lr_u AS (
  SELECT date_diff('day', d0, d1) AS t_days,
         date_diff('day', d1,
                   (SELECT max(CAST(ts AS DATE)) FROM events))
           < {KM_CENSOR_DAYS} AS censored,
         arm
  FROM (SELECT user_id, min(CAST(ts AS DATE)) AS d0,
               max(CAST(ts AS DATE)) AS d1,
               CAST(max(user_id % 2) AS INT) AS arm
        FROM events GROUP BY 1)
),
lr_t AS (
  SELECT t_days,
         CAST(count(*) AS BIGINT) AS ex,
         CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
           AS ch,
         CAST(sum(arm) AS BIGINT) AS ex1,
         CAST(sum(CASE WHEN NOT censored THEN arm ELSE 0 END)
              AS BIGINT) AS ch1
  FROM lr_u GROUP BY 1
),
lr_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS nn,
         CAST(sum(arm) AS BIGINT) AS nn1
  FROM lr_u
),
lr_r AS (
  SELECT ch, ch1,
         t.nn - CAST(coalesce(sum(ex) OVER wp, 0) AS BIGINT) AS n,
         t.nn1 - CAST(coalesce(sum(ex1) OVER wp, 0) AS BIGINT) AS n1
  FROM lr_t, lr_tot t
  WINDOW wp AS (ORDER BY t_days
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
lr_a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_times,
         CAST(sum(ch1) AS BIGINT) AS o1,
         sum(CAST(ch AS DOUBLE) * CAST(n1 AS DOUBLE)
             / CAST(n AS DOUBLE)) AS e1,
         sum(CAST(ch1 AS DOUBLE)
             - CAST(ch AS DOUBLE) * CAST(n1 AS DOUBLE)
               / CAST(n AS DOUBLE)) AS ome,
         sum(CASE WHEN n > 1
                  THEN CAST(ch AS DOUBLE)
                       * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(n AS DOUBLE) - CAST(ch AS DOUBLE))
                       / (CAST(n AS DOUBLE) - 1.0)
                  ELSE 0.0 END) AS v
  FROM lr_r WHERE ch > 0
),
logrank_test AS (
  SELECT n_times, o1, round(e1, 6) AS e1,
         round(ome / sqrt(v), 6) AS z,
         abs(round(ome / sqrt(v), 6)) > 1.96 AS significant
  FROM lr_a
)
"""




# ---------------------------------------------------------------------------
# restricted mean survival time (area under the KM curve)
# ---------------------------------------------------------------------------

#: RMST horizon (days).
RMST_TAU = 21




def rmst_report(events: DataFrame) -> DataFrame:
    """Restricted mean survival time: the area under the Kaplan-Meier
    curve up to τ = {tau} days — "expected days retained within the
    first {tau}", the single-number summary regulators and A/B
    readouts prefer over eyeballing the curve (it is well-defined
    under censoring where the plain mean is not).

    Reuses the KM machinery verbatim (user-grain span agg, ordered
    distinct-duration grain); RMST = Σ S(t_i)·(min(t_{{i+1}},τ) −
    min(t_i,τ)) over the step function with S(0)=1 — one lead()
    window over the bounded duration grain, the ln-sum survival fold
    shared with ``km_survival``.

    Output (1 row): tau, n_users, n_churn_times, rmst_days.
    """
    spans = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
    )
    horizon = events.agg(F.max(F.to_date("ts")).alias("dmax"))
    users = spans.crossJoin(F.broadcast(horizon)).select(
        F.datediff("d1", "d0").alias("t_days"),
        (F.datediff("dmax", "d1") < KM_CENSOR_DAYS).alias("censored"),
    )
    per_t = users.groupBy("t_days").agg(
        F.count("*").alias("n_exit"),
        F.sum(F.when(~F.col("censored"), 1).otherwise(0)).alias(
            "n_churned"
        ),
    )
    w = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wS = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    total = users.count()
    curve = (
        per_t.withColumn(
            "n_risk",
            F.lit(total) - F.coalesce(F.sum("n_exit").over(w), F.lit(0)),
        )
        .withColumn(
            "lnterm",
            F.when(
                F.col("n_churned") > 0,
                F.log(
                    F.lit(1.0) - F.col("n_churned") / F.col("n_risk")
                ),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("s", F.exp(F.sum("lnterm").over(wS)))
        .filter(F.col("n_churned") > 0)
    )
    wl = Window.orderBy("t_days")
    steps = curve.select(
        "t_days",
        "s",
        F.lead("t_days", 1, RMST_TAU).over(wl).alias("t_next"),
        F.first("t_days").over(
            Window.orderBy("t_days").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("t_first"),
    )
    # segment [0, t_first) has S=1; each churn time t contributes
    # S(t)·(min(next,τ) − min(t,τ)).
    seg = steps.select(
        (
            F.col("s")
            * (
                F.least(F.col("t_next"), F.lit(RMST_TAU))
                - F.least(F.col("t_days"), F.lit(RMST_TAU))
            ).cast("double")
        ).alias("area"),
        F.least(F.col("t_first"), F.lit(RMST_TAU)).alias("head"),
    )
    return seg.agg(
        F.lit(RMST_TAU).alias("tau"),
        F.lit(total).cast("bigint").alias("n_users"),
        F.count("*").alias("n_churn_times"),
        F.round(
            F.max("head").cast("double") + F.sum("area"), 6
        ).alias("rmst_days"),
    )




rmst_report.__doc__ = rmst_report.__doc__.format(tau=RMST_TAU)




ORACLE_RMST = f"""
rm_u AS (
  SELECT date_diff('day', d0, d1) AS t_days,
         date_diff('day', d1,
                   (SELECT max(CAST(ts AS DATE)) FROM events))
           < {KM_CENSOR_DAYS} AS censored
  FROM (SELECT user_id, min(CAST(ts AS DATE)) AS d0,
               max(CAST(ts AS DATE)) AS d1
        FROM events GROUP BY 1)
),
rm_t AS (
  SELECT t_days, CAST(count(*) AS BIGINT) AS n_exit,
         CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
           AS n_churned
  FROM rm_u GROUP BY 1
),
rm_c AS (
  SELECT t_days, n_churned,
         (SELECT count(*) FROM rm_u)
           - COALESCE(sum(n_exit) OVER (ORDER BY t_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM rm_t
),
rm_s AS (
  SELECT t_days,
         exp(sum(CASE WHEN n_churned > 0
                      THEN ln(1.0 - n_churned
                              / CAST(n_risk AS DOUBLE))
                      ELSE 0.0 END)
             OVER (ORDER BY t_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           AS s,
         n_churned
  FROM rm_c
),
rm_steps AS (
  SELECT t_days, s,
         lead(t_days, 1, {RMST_TAU}) OVER (ORDER BY t_days) AS t_next,
         min(t_days) OVER () AS t_first
  FROM rm_s WHERE n_churned > 0
),
rmst_report AS (
  SELECT {RMST_TAU} AS tau,
         (SELECT CAST(count(*) AS BIGINT) FROM rm_u) AS n_users,
         CAST(count(*) AS BIGINT) AS n_churn_times,
         round(CAST(max(least(t_first, {RMST_TAU})) AS DOUBLE)
               + sum(s * CAST(least(t_next, {RMST_TAU})
                              - least(t_days, {RMST_TAU}) AS DOUBLE)),
               6) AS rmst_days
  FROM rm_steps
)
"""




# ---------------------------------------------------------------------------
# Cox proportional hazards (verified, Breslow ties, Newton on the grid)
# ---------------------------------------------------------------------------

#: Cox covariate bins (engagement views capped at BINS-1) and Newton
#: rounds. The covariate enters as s = x/BINS — exact dyadic, bounded
#: in [0,1), so exp(beta*s) stays O(1) and the 12-dp rounding absorbs
#: cross-engine libm ulp (the logreg sigmoid convention).
COX_BINS = 8


COX_ROUNDS = 4




def cox_ph_train(events: DataFrame) -> DataFrame:
    """Verified Cox proportional-hazards regression of time-to-first-
    purchase on engagement (view count) — the covariate-adjusted
    member that completes the survival family (KM/Nelson-Aalen
    estimate curves, log-rank compares two groups; Cox quantifies a
    continuous covariate's hazard ratio). Subject = user; duration =
    days from first activity to first purchase; users who never
    purchase are right-censored at their last activity day. The
    covariate is the user's total view count (capped bin; includes
    post-purchase views — documented simplification, it is a demo
    covariate, and the oracle mirrors it exactly).

    Breslow tie handling; full Newton-Raphson, COX_ROUNDS unrolled
    iterations identically in the oracle. The corpus collapses ONCE
    to the (t x covariate-bin) exit grid (<= day-span * COX_BINS
    rows, calendar-bounded). Risk sets at each event day te are an
    explicit bounded theta-join ev_days x grid on t >= te (never a
    window, and no bin can go missing from a risk set — every user
    with t >= te is counted whatever day they exit). Each iteration:
    broadcast the 1-row beta, weight by w = round(exp(beta*s), 12)
    with s = x/COX_BINS exact dyadic in [0,1) (so exp stays O(1) and
    the rounding absorbs cross-engine libm ulp), reduce to per-day
    S0/S1/S2, fold the score U = sum_t [s_sum_t - d_t*S1/S0] and
    information I = sum_t d_t*(S2/S0 - (S1/S0)^2); update
    beta' = round(beta + U/I, 9) — cross-round state exactly equal
    in both engines (the logreg_train discipline).

    Scale: iteration cost is independent of corpus size (constant
    grid); the only corpus-sized stages are the two user-grain aggs.
    Output per round: round, beta, score_u, fisher_i, hazard_ratio
    (exp(beta) for the full s=1 engagement span, round 6).
    """
    purchases = events.filter(
        F.col("event_type") == "purchase"
    ).groupBy("user_id").agg(F.min(F.to_date("ts")).alias("dp"))
    spans = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("views"),
    )
    users = spans.join(purchases, "user_id", "left").select(
        F.when(
            F.col("dp").isNotNull(), F.datediff("dp", "d0")
        ).otherwise(F.datediff("d1", "d0")).alias("t"),
        F.least(F.col("views"), F.lit(COX_BINS - 1))
        .cast("int")
        .alias("x"),
        F.col("dp").isNotNull().cast("int").alias("event"),
    )
    cell = _cut(
        users.groupBy("t", "x")
        .agg(
            F.count("*").alias("n_exit"),
            F.sum("event").alias("n_event"),
        )
    )  # calendar x bins grid
    s = F.col("x").cast("double") / F.lit(float(COX_BINS))
    ev = _cut(
        cell.groupBy("t")
        .agg(
            F.sum("n_event").alias("d"),
            F.sum(F.col("n_event") * s).alias("s_sum"),
        )
        .filter(F.col("d") > 0)
        .select(F.col("t").alias("te"), "d", "s_sum")
    )
    # bounded risk-set expansion: every grid cell joins every event
    # day it is at risk for (|ev_days| x |grid| rows, both
    # calendar/bin-bounded)
    risk = _cut(
        ev.select("te")
        .join(
            cell.select("t", "x", "n_exit"),
            F.col("t") >= F.col("te"),
        )
        .groupBy("te", "x")
        .agg(F.sum("n_exit").alias("r"))
    )
    beta = None  # 1-row (beta)
    out = None
    for rnd in range(1, COX_ROUNDS + 1):
        src_df = (
            risk.select("*", F.lit(0.0).alias("beta"))
            if beta is None
            else risk.crossJoin(F.broadcast(beta.select("beta")))
        )
        w = F.round(F.exp(F.col("beta") * s), 12)
        day = src_df.groupBy("te").agg(
            F.sum(F.col("r") * w).alias("s0"),
            F.sum(F.col("r") * s * w).alias("s1"),
            F.sum(F.col("r") * s * s * w).alias("s2"),
            F.first("beta").alias("beta"),
        )
        terms = day.join(ev, "te").select(
            "beta",
            (
                F.col("s_sum") - F.col("d") * F.col("s1") / F.col("s0")
            ).alias("u_t"),
            (
                F.col("d")
                * (
                    F.col("s2") / F.col("s0")
                    - (F.col("s1") / F.col("s0"))
                    * (F.col("s1") / F.col("s0"))
                )
            ).alias("i_t"),
        )
        stat = terms.agg(
            F.first("beta").alias("beta_prev"),
            F.sum("u_t").alias("u"),
            F.sum("i_t").alias("i"),
        )
        beta = _cut(stat.select(
            F.round(
                F.col("beta_prev") + F.col("u") / F.col("i"), 9
            ).alias("beta"),
            F.col("u").alias("u"),
            F.col("i").alias("i"),
        ))
        row = beta.select(
            F.lit(rnd).alias("round"),
            "beta",
            F.round(F.col("u"), 6).alias("score_u"),
            F.round(F.col("i"), 6).alias("fisher_i"),
            F.round(F.exp("beta"), 6).alias("hazard_ratio"),
        )
        out = row if out is None else out.unionByName(row)
    return out




def oracle_cox_ph(
    bins: int = COX_BINS, rounds: int = COX_ROUNDS
) -> str:
    sx = f"(CAST(x AS DOUBLE) / {bins})"
    ctes = [
        f"""
cox_u AS (
  SELECT CASE WHEN p.dp IS NOT NULL
              THEN date_diff('day', s.d0, p.dp)
              ELSE date_diff('day', s.d0, s.d1) END AS t,
         CAST(least(s.views, {bins - 1}) AS INT) AS x,
         CAST(p.dp IS NOT NULL AS INT) AS event
  FROM (SELECT user_id, min(CAST(ts AS DATE)) AS d0,
               max(CAST(ts AS DATE)) AS d1,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                        END) AS BIGINT) AS views
        FROM events GROUP BY 1) s
  LEFT JOIN (SELECT user_id, min(CAST(ts AS DATE)) AS dp
             FROM events WHERE event_type = 'purchase'
             GROUP BY 1) p USING (user_id)
)""",
        """
cox_cell AS MATERIALIZED (
  SELECT t, x, CAST(count(*) AS BIGINT) AS n_exit,
         CAST(sum(event) AS BIGINT) AS n_event
  FROM cox_u GROUP BY 1, 2
)""",
        f"""
cox_ev AS MATERIALIZED (
  SELECT t AS te, CAST(sum(n_event) AS BIGINT) AS d,
         sum(n_event * {sx}) AS s_sum
  FROM cox_cell GROUP BY 1
  HAVING sum(n_event) > 0
)""",
        """
cox_risk AS MATERIALIZED (
  SELECT e.te, c.x, CAST(sum(c.n_exit) AS BIGINT) AS r
  FROM cox_ev e JOIN cox_cell c ON c.t >= e.te
  GROUP BY 1, 2
)""",
        """
cox_b0 AS (SELECT CAST(0.0 AS DOUBLE) AS beta)""",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""
cox_day{r} AS (
  SELECT te,
         sum(r * round(exp(b.beta * {sx}), 12)) AS s0,
         sum(r * {sx} * round(exp(b.beta * {sx}), 12)) AS s1,
         sum(r * {sx} * {sx} * round(exp(b.beta * {sx}), 12)) AS s2,
         any_value(b.beta) AS beta
  FROM cox_risk, cox_b{r - 1} b
  GROUP BY te
)""",
        )
        ctes.append(
            f"""
cox_b{r} AS MATERIALIZED (
  SELECT round(any_value(beta)
               + sum(s_sum - d * s1 / s0)
               / sum(d * (s2 / s0 - (s1 / s0) * (s1 / s0))), 9)
           AS beta,
         sum(s_sum - d * s1 / s0) AS u,
         sum(d * (s2 / s0 - (s1 / s0) * (s1 / s0))) AS i
  FROM cox_day{r} JOIN cox_ev USING (te)
)"""
        )
    arms = "\n  UNION ALL\n".join(
        f"  SELECT CAST({r} AS INT) AS round, beta,"
        f" round(u, 6) AS score_u, round(i, 6) AS fisher_i,"
        f" round(exp(beta), 6) AS hazard_ratio FROM cox_b{r}"
        for r in range(1, rounds + 1)
    )
    ctes.append(f"""
cox_ph_train AS (
{arms}
)""")
    return ",".join(ctes)

