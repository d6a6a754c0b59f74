"""[EXT] Hypothesis tests & association: two-/k-sample tests, GoF, correlation measures.

Split from the monolithic ``operators/temporal.py`` (r8 verdict task 2); see the package ``__init__`` for provenance. All docstring citations to the reference (F.py) are preserved on the operators themselves.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_instacart_market_basket_analysis_spark.operators import (
    ranking as _rank,
)

from .causal import AB_METRIC_TYPE, POWER_Z_ALPHA



#: KS test: alpha = 0.05 critical coefficient.
KS_CRIT_COEF = 1.358




def ks_drift_test(events: DataFrame) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov test between the first and
    second half of the event stream's value distribution — the
    nonparametric companion to the binned PSI report (PSI needs bin
    choices; KS is distribution-free and exact).

    D = sup |F1 - F2| is evaluated at every distinct value via
    cumulative counts from ``ranking.value_prefix``, so no global
    sort and no corpus-wide single-partition window exists; the
    supremum itself
    is computed on INTEGERS (|c1*n2 - c2*n1|, max'd exactly) and
    divides by n1*n2 only at the output edge.

    Output (1 row): n1, n2, ks_stat, ks_crit (alpha=0.05), drifted.
    """
    ev = events.filter(F.col("value").isNotNull()).select(
        F.unix_micros("ts").alias("ts_us"), "value"
    )
    bounds = ev.agg(
        F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")
    )
    sided = ev.crossJoin(F.broadcast(bounds)).select(
        "value",
        (
            F.col("ts_us") * 2 <= (F.col("lo") + F.col("hi"))
        ).alias("first_half"),
    )
    per_value = sided.groupBy("value").agg(
        F.sum(F.when(F.col("first_half"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("first_half"), 0).otherwise(1)).alias("c2"),
    )
    totals = per_value.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    cum = (
        _rank.value_prefix(per_value, ["c1", "c2"], "value", inclusive=True)
        .crossJoin(F.broadcast(totals))
        .select(
            F.abs(
                F.col("_pre_c1") * F.col("n2")
                - F.col("_pre_c2") * F.col("n1")
            ).alias("num"),
            "n1",
            "n2",
        )
    )
    return (
        cum.groupBy("n1", "n2")
        .agg(F.max("num").alias("d_num"))
        .select(
            "n1",
            "n2",
            F.round(
                F.col("d_num") / (F.col("n1") * F.col("n2")).cast("double"),
                6,
            ).alias("ks_stat"),
            F.round(
                F.lit(KS_CRIT_COEF)
                * F.sqrt(
                    (F.col("n1") + F.col("n2")).cast("double")
                    / (F.col("n1") * F.col("n2")).cast("double")
                ),
                6,
            ).alias("ks_crit"),
            (
                F.round(
                    F.col("d_num")
                    / (F.col("n1") * F.col("n2")).cast("double"),
                    6,
                )
                > F.round(
                    F.lit(KS_CRIT_COEF)
                    * F.sqrt(
                        (F.col("n1") + F.col("n2")).cast("double")
                        / (F.col("n1") * F.col("n2")).cast("double")
                    ),
                    6,
                )
            ).alias("drifted"),
        )
    )




ORACLE_KS_DRIFT = f"""
ksb AS (
  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
  FROM events WHERE value IS NOT NULL
),
kss AS (
  SELECT value, epoch_us(ts) * 2 <= (lo + hi) AS first_half
  FROM events, ksb WHERE value IS NOT NULL
),
ksv AS (
  SELECT value,
         CAST(sum(CASE WHEN first_half THEN 1 ELSE 0 END) AS BIGINT)
           AS c1,
         CAST(sum(CASE WHEN first_half THEN 0 ELSE 1 END) AS BIGINT)
           AS c2
  FROM kss GROUP BY 1
),
kst AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
  FROM ksv
),
ksc AS (
  SELECT sum(c1) OVER (ORDER BY value) AS cum1,
         sum(c2) OVER (ORDER BY value) AS cum2
  FROM ksv
),
ks_drift_test AS (
  SELECT t.n1, t.n2,
         round(CAST(max(abs(cum1 * t.n2 - cum2 * t.n1)) AS DOUBLE)
               / (t.n1 * t.n2), 6) AS ks_stat,
         round({KS_CRIT_COEF} * sqrt(CAST(t.n1 + t.n2 AS DOUBLE)
               / (t.n1 * t.n2)), 6) AS ks_crit,
         round(CAST(max(abs(cum1 * t.n2 - cum2 * t.n1)) AS DOUBLE)
               / (t.n1 * t.n2), 6)
           > round({KS_CRIT_COEF} * sqrt(CAST(t.n1 + t.n2 AS DOUBLE)
               / (t.n1 * t.n2)), 6) AS drifted
  FROM ksc, kst t
  GROUP BY t.n1, t.n2
)
"""




# ---------------------------------------------------------------------------
# Wasserstein-1 drift (earth-mover distance between the two halves)
# ---------------------------------------------------------------------------


def wasserstein_drift(events: DataFrame) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between the first and
    second half of the event stream's value distribution — the
    magnitude-aware member of the drift family: KS reports the worst
    single CDF gap, PSI a binned log-ratio, W1 the literal dollars a
    unit of probability mass must move, integrating ALL gaps
    (W1 = integral |F1 - F2| dx over the value axis).

    Exactness: values are exact BIGINT cents; at every distinct cent
    value the CDF gap numerator D = |cum1*n2 - cum2*n1| is an exact
    integer (the KS trick). The integral sum_i D(v_i) * (v_{i+1} - v_i)
    telescopes to sum_v v * (D_below(v) - D_upto(v)), D_below from
    the cumulative counts strictly below v and D_upto from those up to
    v (D is 0 below the first value and at the last), so no value
    needs its successor; the terms are carried in DECIMAL(38,0) and
    the single division by n1*n2*100 happens once at the output edge
    (round 6, dollars).

    Scale: same distributed shape as `ks_drift_test` — per-value cum
    counts from ``ranking.value_prefix``, no global sort.

    Output (1 row): n1, n2, n_values, w1_dollars.
    """
    ev = events.filter(F.col("value").isNotNull()).select(
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v"),
    )
    bounds = ev.agg(
        F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")
    )
    sided = ev.crossJoin(F.broadcast(bounds)).select(
        "v",
        (
            F.col("ts_us") * 2 <= (F.col("lo") + F.col("hi"))
        ).alias("first_half"),
    )
    per_value = sided.groupBy("v").agg(
        F.sum(F.when(F.col("first_half"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("first_half"), 0).otherwise(1)).alias("c2"),
    )
    totals = per_value.agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    def gap(cum1, cum2):
        return dec(F.abs(cum1 * F.col("n2") - cum2 * F.col("n1")))

    below1, below2 = F.col("_pre_c1"), F.col("_pre_c2")
    cum = (
        _rank.value_prefix(per_value, ["c1", "c2"], "v")
        .crossJoin(F.broadcast(totals))
        .select(
            "n1",
            "n2",
            (
                dec(F.col("v"))
                * (
                    gap(below1, below2)
                    - gap(below1 + F.col("c1"), below2 + F.col("c2"))
                )
            ).alias("term"),
        )
    )
    # one distinct value spans no gap: no row, as the oracle's lead
    return (
        cum.groupBy("n1", "n2")
        .agg(F.count("*").alias("n_values"), F.sum("term").alias("s"))
        .filter(F.col("n_values") > 1)
        .select(
            "n1",
            "n2",
            "n_values",
            F.round(
                F.col("s").cast("double")
                / (
                    F.col("n1").cast("double")
                    * F.col("n2")
                    * 100
                ),
                6,
            ).alias("w1_dollars"),
        )
    )




ORACLE_WASSERSTEIN = """
w1v AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
         CAST(sum(CASE WHEN first_half THEN 1 ELSE 0 END) AS BIGINT)
           AS c1,
         CAST(sum(CASE WHEN first_half THEN 0 ELSE 1 END) AS BIGINT)
           AS c2
  FROM (
    SELECT value, epoch_us(ts) * 2 <= (lo + hi) AS first_half
    FROM events,
         (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
          FROM events WHERE value IS NOT NULL)
    WHERE value IS NOT NULL
  ) GROUP BY 1
),
w1t AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
  FROM w1v
),
w1c AS (
  SELECT CAST(sum(c1) OVER (ORDER BY v) AS BIGINT) AS cum1,
         CAST(sum(c2) OVER (ORDER BY v) AS BIGINT) AS cum2,
         v,
         lead(v) OVER (ORDER BY v) AS v_next
  FROM w1v
),
wasserstein_drift AS (
  SELECT t.n1, t.n2,
         CAST(count(*) + 1 AS BIGINT) AS n_values,
         round(CAST(sum(CAST(abs(cum1 * t.n2 - cum2 * t.n1) AS HUGEINT)
                        * (v_next - v)) AS DOUBLE)
               / (CAST(t.n1 AS DOUBLE) * t.n2 * 100), 6) AS w1_dollars
  FROM w1c, w1t t
  WHERE v_next IS NOT NULL
  GROUP BY t.n1, t.n2
)
"""




def mannwhitney_test(events: DataFrame) -> DataFrame:
    """Mann-Whitney U between the two A/B variants' per-user purchase
    totals — the nonparametric companion to ``ab_test_report``'s Welch
    z (rank-based, so a few whale users cannot fake a lift).

    Rank arithmetic is exact: with ties handled by midranks, the
    DOUBLED rank of a distinct value at cumulative position p with
    tie-count c is the integer 2p + c + 1, so the doubled rank sum
    2R1 = sum(c1 * (2p + c + 1)) and 2U1 = 2R1 - n1(n1+1) stay
    integral until the z-score's final division (tie-corrected
    variance). Cumulative positions come from the same
    ``ranking.value_prefix`` as the KS test — no global sort.

    Output (1 row): n1, n2, u1, z (rounded 6), significant (|z| >
    1.96).
    """
    per_user = (
        events.filter(F.col("event_type") == AB_METRIC_TYPE)
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 4).alias("v"))
        .select(
            "v", (F.col("user_id") % 2 == 0).alias("is_a")
        )
    )
    per_value = per_user.groupBy("v").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("c2"),
    ).withColumn("c", F.col("c1") + F.col("c2"))
    ranked = _rank.value_prefix(per_value, ["c"], "v").withColumnRenamed(
        "_pre_c", "p"
    )
    agg = ranked.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(
            F.col("c1") * (F.lit(2) * F.col("p") + F.col("c") + 1)
        ).alias("r1_x2"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie_sum"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    n = n1 + n2
    u1 = (F.col("r1_x2") - n1 * (n1 + 1)) / F.lit(2.0)
    var = (
        (n1 * n2).cast("double")
        / 12.0
        * (
            (n + 1).cast("double")
            - F.col("tie_sum").cast("double")
            / (n * (n - 1)).cast("double")
        )
    )
    z = (u1 - (n1 * n2).cast("double") / 2.0) / F.sqrt(var)
    return agg.select(
        "n1",
        "n2",
        u1.alias("u1"),
        F.round(z, 6).alias("z"),
        (F.abs(F.round(z, 6)) > 1.96).alias("significant"),
    )




ORACLE_MANNWHITNEY = f"""
mwu AS (
  SELECT user_id, round(sum(value), 4) AS v,
         user_id % 2 = 0 AS is_a
  FROM events WHERE event_type = '{AB_METRIC_TYPE}'
  GROUP BY user_id
),
mwv AS (
  SELECT v,
         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS c2,
         CAST(count(*) AS BIGINT) AS c
  FROM mwu GROUP BY 1
),
mwr AS (
  SELECT c1, c2, c,
         CAST(coalesce(sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS p
  FROM mwv
),
mwa AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c2) AS BIGINT) AS n2,
         CAST(sum(c1 * (2 * p + c + 1)) AS BIGINT) AS r1_x2,
         CAST(sum(c * c * c - c) AS BIGINT) AS tie_sum
  FROM mwr
),
mannwhitney_test AS (
  SELECT n1, n2,
         (r1_x2 - n1 * (n1 + 1)) / 2.0 AS u1,
         round(((r1_x2 - n1 * (n1 + 1)) / 2.0
                 - CAST(n1 * n2 AS DOUBLE) / 2.0)
               / sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0
                      * (CAST(n1 + n2 + 1 AS DOUBLE)
                         - CAST(tie_sum AS DOUBLE)
                           / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE))),
               6) AS z,
         abs(round(((r1_x2 - n1 * (n1 + 1)) / 2.0
                 - CAST(n1 * n2 AS DOUBLE) / 2.0)
               / sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0
                      * (CAST(n1 + n2 + 1 AS DOUBLE)
                         - CAST(tie_sum AS DOUBLE)
                           / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE))),
               6)) > 1.96 AS significant
  FROM mwa
)
"""




#: chi-squared critical values at alpha=0.05 by degrees of freedom.
CHI2_CRIT_05 = {1: 3.841, 2: 5.991, 3: 7.815, 4: 9.488, 5: 11.070,
                6: 12.592, 7: 14.067, 8: 15.507}




def chi2_independence_test(events: DataFrame) -> DataFrame:
    """Chi-squared test of independence between event type and A/B
    variant — "does the treatment change WHAT users do", the
    categorical sibling of the Welch/Mann-Whitney value tests.

    Exactness: with observed cell count O, row total R, column total
    C, grand total N, each cell's term is (O·N − R·C)² / (N·R·C) —
    numerator fully integral (computed in BIGINT), one double
    division per cell, the across-cells sum rounded to 6 (the
    fold-order rule). Expected counts never materialize as floats.

    Plans: one hash-agg to the (type, variant) contingency grain
    (bounded: |types| × 2 cells), margins derived from the cell table
    with two tiny aggs, everything after is constant-size. Output
    (1 row): n, dof, chi2, chi2_crit, dependent.
    """
    cells = (
        events.select(
            "event_type",
            (F.col("user_id") % 2 == 0).alias("is_a"),
        )
        .groupBy("event_type", "is_a")
        .agg(F.count("*").alias("o"))
    )
    rows_m = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols_m = cells.groupBy("is_a").agg(F.sum("o").alias("c"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").alias("n_types"),
    )
    terms = (
        cells.join(rows_m, "event_type")
        .join(F.broadcast(cols_m), "is_a")
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            "n_types",
            (
                (F.col("o") * F.col("n") - F.col("r") * F.col("c"))
                * (F.col("o") * F.col("n") - F.col("r") * F.col("c"))
            ).cast("double").alias("num"),
            (F.col("n") * F.col("r") * F.col("c"))
            .cast("double")
            .alias("den"),
        )
    )
    agg = terms.groupBy("n", "n_types").agg(
        F.round(F.sum(F.col("num") / F.col("den")), 6).alias("chi2")
    )
    crit = F.create_map(
        *[F.lit(x) for kv in CHI2_CRIT_05.items() for x in kv]
    )
    dof = (F.col("n_types") - 1).cast("int")
    return agg.select(
        "n",
        dof.alias("dof"),
        "chi2",
        crit[dof].alias("chi2_crit"),
        (F.col("chi2") > crit[dof]).alias("dependent"),
    )




def oracle_chi2_independence() -> str:
    crit_cases = " ".join(
        f"WHEN {k} THEN {v}" for k, v in CHI2_CRIT_05.items()
    )
    return f"""
x2c AS (
  SELECT event_type, user_id % 2 = 0 AS is_a,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
),
x2r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
        FROM x2c GROUP BY 1),
x2k AS (SELECT is_a, CAST(sum(o) AS BIGINT) AS c FROM x2c GROUP BY 1),
x2t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        FROM x2c),
x2a AS (
  SELECT t.n, t.n_types,
         round(sum(CAST((x.o * t.n - r.r * k.c)
                        * (x.o * t.n - r.r * k.c) AS DOUBLE)
                   / CAST(t.n * r.r * k.c AS DOUBLE)), 6) AS chi2
  FROM x2c x
  JOIN x2r r USING (event_type)
  JOIN x2k k USING (is_a), x2t t
  GROUP BY 1, 2
),
chi2_independence AS (
  SELECT n, CAST(n_types - 1 AS INT) AS dof, chi2,
         CASE CAST(n_types - 1 AS INT) {crit_cases} END AS chi2_crit,
         chi2 > (CASE CAST(n_types - 1 AS INT) {crit_cases} END)
           AS dependent
  FROM x2a
)
"""




# ---------------------------------------------------------------------------
# event-type correlation matrix (hourly count series)
# ---------------------------------------------------------------------------


def type_correlations(events: DataFrame) -> DataFrame:
    """Pearson correlation between event types' hourly count series —
    "do errors spike with clicks?" — computed from integral sums only:
    counts are exact, the five correlation sums (n, sx, sy, sxx, syy,
    sxy) are BIGINT, and the final r is one identical double
    expression per pair, rounded(6). Missing hours count as zero via
    the dense hour grid (the `gapfill` trick), which matters: without
    densify, correlation silently conditions on "both active".

    Shape: one (hour, type) count-agg, pivot to pairs by self-join on
    hour (|types|^2 * hours rows, tiny), one sum-agg per pair.
    Output: type_a, type_b (a < b), n_hours, r.
    """
    hourly = events.groupBy(
        F.unix_millis(F.date_trunc("hour", "ts")).alias("hour_ms"),
        "event_type",
    ).agg(F.count("*").alias("n"))
    span = hourly.agg(
        F.min("hour_ms").alias("lo"), F.max("hour_ms").alias("hi")
    )
    hours = span.select(
        F.explode(
            F.expr("sequence(lo, hi, 3600000)")
        ).alias("hour_ms")
    )
    grid = hours.crossJoin(
        events.select("event_type").distinct()
    ).join(hourly, ["hour_ms", "event_type"], "left").select(
        "hour_ms",
        "event_type",
        F.coalesce("n", F.lit(0)).alias("n"),
    )
    a = grid.select(
        "hour_ms", F.col("event_type").alias("type_a"),
        F.col("n").alias("x"),
    )
    b = grid.select(
        "hour_ms", F.col("event_type").alias("type_b"),
        F.col("n").alias("y"),
    )
    pairs = a.join(b, "hour_ms").filter(F.col("type_a") < F.col("type_b"))
    s = pairs.groupBy("type_a", "type_b").agg(
        F.count("*").alias("n_hours"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n_hours") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (
            F.col("n_hours") * F.col("sxx") - F.col("sx") * F.col("sx")
        ).cast("double")
        * (
            F.col("n_hours") * F.col("syy") - F.col("sy") * F.col("sy")
        ).cast("double")
    )
    return s.select(
        "type_a",
        "type_b",
        "n_hours",
        F.round(num.cast("double") / den, 6).alias("r"),
    )




ORACLE_TYPE_CORR = """
tc2_hourly AS (
  SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
tc2_span AS (SELECT min(hour_ms) AS lo, max(hour_ms) AS hi
             FROM tc2_hourly),
tc2_grid AS (
  SELECT g.hour_ms, t.event_type, COALESCE(h.n, 0) AS n
  FROM (SELECT unnest(generate_series(lo, hi, 3600000)) AS hour_ms
        FROM tc2_span) g
  CROSS JOIN (SELECT DISTINCT event_type FROM events) t
  LEFT JOIN tc2_hourly h USING (hour_ms, event_type)
),
tc2_s AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(a.n) AS BIGINT) AS sx, CAST(sum(b.n) AS BIGINT) AS sy,
         CAST(sum(a.n * a.n) AS BIGINT) AS sxx,
         CAST(sum(b.n * b.n) AS BIGINT) AS syy,
         CAST(sum(a.n * b.n) AS BIGINT) AS sxy
  FROM tc2_grid a JOIN tc2_grid b USING (hour_ms)
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2
),
type_correlations AS (
  SELECT type_a, type_b, n_hours,
         round(CAST(n_hours * sxy - sx * sy AS DOUBLE)
               / sqrt(CAST(n_hours * sxx - sx * sx AS DOUBLE)
                      * CAST(n_hours * syy - sy * sy AS DOUBLE)), 6)
           AS r
  FROM tc2_s
)
"""




# ---------------------------------------------------------------------------
# multiple-testing control: per-type Welch tests + Benjamini-Hochberg
# ---------------------------------------------------------------------------

#: BH false-discovery-rate budget (q).
BH_Q_PCT = 10


#: Abramowitz-Stegun 26.2.17 normal-CDF coefficients.
_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)




def _phi_tail_expr(zcol: str) -> str:
    """1 - Phi(|z|) via the A&S 26.2.17 polynomial — identical
    operation order in both engines; inputs are pre-rounded z scores
    so the doubles agree to libm ulps, absorbed by the p round."""
    b = [f"CAST({c!r} AS DOUBLE)" for c in _AS_B]
    t = (
        f"(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)"
        f" + CAST(0.2316419 AS DOUBLE) * abs({zcol})))"
    )
    pdf = (
        f"(exp(-abs({zcol}) * abs({zcol}) / 2)"
        f" / CAST(2.5066282746310002 AS DOUBLE))"
    )
    poly = (
        f"({t} * ({b[0]} + {t} * ({b[1]} + {t} * ({b[2]} + {t} *"
        f" ({b[3]} + {t} * {b[4]})))))"
    )
    return f"({pdf} * {poly})"




def multi_test_bh(events: DataFrame) -> DataFrame:
    """One Welch z-test PER EVENT TYPE (variant = user parity, metric
    = per-user value total) with Benjamini-Hochberg FDR control
    across the family — the multiple-comparisons hygiene a metrics
    platform runs when every segment gets its own test: rank
    p-values ascending, find the largest i with p_(i) <= i*q/m, and
    flag ranks up to it.

    Per-type moments are pre-rounded (the ab_test protocol), p-values
    come from the A&S normal-CDF polynomial (same expression text in
    both engines, rounded 6), and the BH step-up is a window over m
    rows (m = #types — tiny). Output per type: event_type, welch_z,
    p_value, bh_rank, bh_threshold, significant.
    """
    per_user = events.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 4).alias("user_total")
    ).withColumn("variant", (F.col("user_id") % 2).cast("int"))
    g = per_user.groupBy("event_type").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n1"),
        F.round(
            F.avg(F.when(F.col("variant") == 0, F.col("user_total"))), 6
        ).alias("mean0"),
        F.round(
            F.avg(F.when(F.col("variant") == 1, F.col("user_total"))), 6
        ).alias("mean1"),
        F.round(
            F.var_samp(
                F.when(F.col("variant") == 0, F.col("user_total"))
            ),
            6,
        ).alias("var0"),
        F.round(
            F.var_samp(
                F.when(F.col("variant") == 1, F.col("user_total"))
            ),
            6,
        ).alias("var1"),
    )
    z = g.select(
        "event_type",
        F.round(
            (F.col("mean1") - F.col("mean0"))
            / F.sqrt(
                F.col("var0") / F.col("n0") + F.col("var1") / F.col("n1")
            ),
            6,
        ).alias("welch_z"),
    ).selectExpr(
        "event_type",
        "welch_z",
        f"round(2 * {_phi_tail_expr('welch_z')}, 6) AS p_value",
    )
    wr = Window.orderBy("p_value", "event_type")
    wall = Window.partitionBy()
    ranked = z.select(
        "*",
        F.row_number().over(wr).alias("bh_rank"),
        F.count("*").over(wall).alias("m"),
    ).select(
        "*",
        F.round(
            F.col("bh_rank") * BH_Q_PCT / (F.lit(100.0) * F.col("m")), 6
        ).alias("bh_threshold"),
    )
    cutoff = ranked.select(
        "*",
        F.max(
            F.when(
                F.col("p_value") <= F.col("bh_threshold"),
                F.col("bh_rank"),
            )
        )
        .over(wall)
        .alias("cutoff"),
    )
    return cutoff.select(
        "event_type",
        "welch_z",
        "p_value",
        "bh_rank",
        "bh_threshold",
        F.coalesce(
            F.col("bh_rank") <= F.col("cutoff"), F.lit(False)
        ).alias("significant"),
    )




def oracle_multi_test_bh() -> str:
    tail = _phi_tail_expr("welch_z")
    return f"""
bh_user AS (
  SELECT event_type, user_id, round(sum(value), 4) AS user_total,
         CAST(user_id % 2 AS INT) AS variant
  FROM events GROUP BY 1, 2
),
bh_g AS (
  SELECT event_type,
         sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n0,
         sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n1,
         round(avg(CASE WHEN variant = 0 THEN user_total END), 6)
           AS mean0,
         round(avg(CASE WHEN variant = 1 THEN user_total END), 6)
           AS mean1,
         round(var_samp(CASE WHEN variant = 0 THEN user_total END), 6)
           AS var0,
         round(var_samp(CASE WHEN variant = 1 THEN user_total END), 6)
           AS var1
  FROM bh_user GROUP BY 1
),
bh_z AS (
  SELECT event_type,
         round((mean1 - mean0)
               / sqrt(var0 / n0 + var1 / n1), 6) AS welch_z
  FROM bh_g
),
bh_p AS (
  SELECT event_type, welch_z,
         round(2 * {tail}, 6) AS p_value
  FROM bh_z
),
bh_r AS (
  SELECT *, row_number() OVER (ORDER BY p_value, event_type)
              AS bh_rank,
         count(*) OVER () AS m
  FROM bh_p
),
bh_t AS (
  SELECT *, round(bh_rank * {BH_Q_PCT}
                  / (CAST(100 AS DOUBLE) * m), 6) AS bh_threshold
  FROM bh_r
),
bh_c AS (
  SELECT *, max(CASE WHEN p_value <= bh_threshold
                     THEN bh_rank END) OVER () AS cutoff
  FROM bh_t
),
multi_test_bh AS (
  SELECT event_type, welch_z, p_value, CAST(bh_rank AS INT) AS bh_rank,
         bh_threshold,
         COALESCE(bh_rank <= cutoff, FALSE) AS significant
  FROM bh_c
)
"""




# ---------------------------------------------------------------------------
# two-proportion z-test on conversion rates
# ---------------------------------------------------------------------------

def conversion_ztest(events: DataFrame) -> DataFrame:
    """Two-proportion z-test on user CONVERSION (did the user purchase
    at all) by the standing parity variants — the binary-outcome
    companion of the Welch mean test: z = (p1 − p0) /
    sqrt(p̂(1−p̂)(1/n0 + 1/n1)) with the pooled p̂. Everything is
    exact integer counts until the one closed-form expression; the
    significance flag compares the 6-dp-rounded |z| against the fixed
    two-sided 5% critical value, so both engines decide identically.

    One distinct-user agg + one 4-count conditional agg — the
    conversion readout costs two shuffles of user-grain keys at any
    event volume.

    Output (1 row): n0, n1, conv0, conv1, p0, p1, z, significant.
    """
    conv = (
        events.groupBy("user_id")
        .agg(
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("c")
        )
        .select(
            (F.col("user_id") % 2).cast("int").alias("variant"), "c"
        )
    )
    m = conv.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("variant") == 0, F.col("c")).otherwise(0)).alias(
            "c0"
        ),
        F.sum(F.when(F.col("variant") == 1, F.col("c")).otherwise(0)).alias(
            "c1"
        ),
    )
    p0 = F.col("c0") / F.col("n0").cast("double")
    p1 = F.col("c1") / F.col("n1").cast("double")
    pp = (F.col("c0") + F.col("c1")) / (
        F.col("n0") + F.col("n1")
    ).cast("double")
    z = F.round(
        (p1 - p0)
        / F.sqrt(
            pp
            * (1.0 - pp)
            * (
                1.0 / F.col("n0").cast("double")
                + 1.0 / F.col("n1").cast("double")
            )
        ),
        6,
    )
    return m.select(
        "n0",
        "n1",
        F.col("c0").alias("conv0"),
        F.col("c1").alias("conv1"),
        F.round(p0, 6).alias("p0"),
        F.round(p1, 6).alias("p1"),
        z.alias("z"),
        (F.abs(z) > F.lit(POWER_Z_ALPHA)).cast("int").alias("significant"),
    )




ORACLE_CONVERSION_ZTEST = f"""
cz_conv AS (
  SELECT CAST(user_id % 2 AS INT) AS variant,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS INT) AS c
  FROM events GROUP BY user_id
),
cz_m AS (
  SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n0,
         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n1,
         CAST(sum(CASE WHEN variant = 0 THEN c ELSE 0 END) AS BIGINT)
           AS c0,
         CAST(sum(CASE WHEN variant = 1 THEN c ELSE 0 END) AS BIGINT)
           AS c1
  FROM cz_conv
),
conversion_ztest AS (
  SELECT n0, n1, c0 AS conv0, c1 AS conv1,
         round(c0 / CAST(n0 AS DOUBLE), 6) AS p0,
         round(c1 / CAST(n1 AS DOUBLE), 6) AS p1,
         round((c1 / CAST(n1 AS DOUBLE) - c0 / CAST(n0 AS DOUBLE))
               / sqrt(((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                      * (1.0 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                      * (CAST(1 AS DOUBLE) / n0
                         + CAST(1 AS DOUBLE) / n1)), 6) AS z,
         CAST(abs(round((c1 / CAST(n1 AS DOUBLE)
                         - c0 / CAST(n0 AS DOUBLE))
               / sqrt(((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                      * (1.0 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                      * (CAST(1 AS DOUBLE) / n0
                         + CAST(1 AS DOUBLE) / n1)), 6))
              > {POWER_Z_ALPHA} AS INT) AS significant
  FROM cz_m
)
"""




# ---------------------------------------------------------------------------
# Spearman rank correlation (engagement vs spend)
# ---------------------------------------------------------------------------

#: unused since the spend-side ranks moved to ``ranking.value_prefix``;
#: kept so the public name stays importable.
SPEARMAN_Y_BUCKET = 100_000




def spearman_corr(events: DataFrame) -> DataFrame:
    """Spearman rank correlation between per-user engagement (view
    count) and per-user spend (purchase cents) — the monotone-
    association companion of the Pearson `feature_correlations`:
    rank-based, so whales and heavy tails cannot fake (or hide) a
    relationship.

    Rank arithmetic is exact: ties become midranks, and the DOUBLED
    midrank of a distinct value at cumulative position p with tie
    count c is the integer 2p + c + 1 (the Mann-Whitney machinery).
    rho is then Pearson on the doubled ranks — the doubling cancels —
    so all five moment sums are BIGINTs and both engines agree
    bit-for-bit until the one rounded division. Cumulative positions
    come from ``ranking.value_prefix`` over the DISTINCT-value grain
    (no global sort); the value→rank maps join back to users on value
    equality.

    At 100 TB the doubled-rank products approach 4N^3 — past ~1e9
    users the moment sums need decimal(38,0) instead of BIGINT (same
    plan, wider accumulator).

    Output (1 row): n, s_dxdy, rho, t_stat, significant.
    """
    per_user = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100, 0).cast("bigint"),
            ).otherwise(0)
        ).alias("y"),
    )

    def _doubled_ranks(col: str, out: str) -> DataFrame:
        per_v = per_user.groupBy(col).agg(F.count("*").alias("c"))
        return _rank.value_prefix(per_v, ["c"], col).select(
            col, (F.lit(2) * F.col("_pre_c") + F.col("c") + 1).alias(out)
        )

    paired = per_user.join(_doubled_ranks("x", "dx"), "x").join(
        _doubled_ranks("y", "dy"), "y"
    )
    m = paired.agg(
        F.count("*").alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    denx = nd * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    deny = nd * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    # t derives from the 6-dp-ROUNDED rho so both engines feed the t
    # formula literally identical doubles (DuckDB's ^2 pow vs x*x
    # could differ in the last ulp on the unrounded value).
    rho6 = F.round(num / F.sqrt(denx * deny), 6)
    t = rho6 * F.sqrt((nd - 2) / (1.0 - rho6 * rho6))
    return m.select(
        "n",
        F.col("sxy").alias("s_dxdy"),
        rho6.alias("rho"),
        F.round(t, 6).alias("t_stat"),
        (F.abs(F.round(t, 6)) > 1.96).alias("significant"),
    )




ORACLE_SPEARMAN = """
sp_user AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1
),
sp_xr AS (
  SELECT v, 2 * p + c + 1 AS dx FROM (
    SELECT x AS v, CAST(count(*) AS BIGINT) AS c,
           CAST(coalesce(sum(count(*)) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS p
    FROM sp_user GROUP BY 1
  )
),
sp_yr AS (
  SELECT v, 2 * p + c + 1 AS dy FROM (
    SELECT y AS v, CAST(count(*) AS BIGINT) AS c,
           CAST(coalesce(sum(count(*)) OVER (ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS p
    FROM sp_user GROUP BY 1
  )
),
sp_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx.dx) AS BIGINT) AS sx,
         CAST(sum(ry.dy) AS BIGINT) AS sy,
         CAST(sum(rx.dx * ry.dy) AS BIGINT) AS sxy,
         CAST(sum(rx.dx * rx.dx) AS BIGINT) AS sxx,
         CAST(sum(ry.dy * ry.dy) AS BIGINT) AS syy
  FROM sp_user u
  JOIN sp_xr rx ON u.x = rx.v
  JOIN sp_yr ry ON u.y = ry.v
),
sp_r AS (
  SELECT n, sxy,
         round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
               6) AS rho
  FROM sp_m
),
spearman_corr AS (
  SELECT n, sxy AS s_dxdy, rho,
         round(rho * sqrt((CAST(n AS DOUBLE) - 2)
                          / (1.0 - rho * rho)), 6) AS t_stat,
         abs(round(rho * sqrt((CAST(n AS DOUBLE) - 2)
                          / (1.0 - rho * rho)), 6)) > 1.96
           AS significant
  FROM sp_r
)
"""




# ---------------------------------------------------------------------------
# one-way ANOVA F-test (value by event type)
# ---------------------------------------------------------------------------

#: F critical value at alpha=0.05 for df1=4 (5 groups), df2=inf.
ANOVA_F_CRIT_05 = 2.372




def anova_f_test(events: DataFrame) -> DataFrame:
    """One-way ANOVA F-test of event value (cents) across the five
    event types — "do the type means differ at all", the k-group
    generalization the pairwise Welch/Mann-Whitney tests can't answer
    without multiplicity (that correction lives in
    ``events_multi_test_bh``).

    All per-group moments (n_g, Σx, Σx²) are exact BIGINTs from ONE
    map-side-combinable hash-agg over the fact table; SSB/SSW then
    assemble from the k=5 group rows in doubles (the only float sums
    cross 5 rows, so fold-order noise is bounded ~5 ulp at 1e13 —
    twelve orders below the 6-dp edge of F). The critical value is a
    fixed df1=4 literal (df2 is effectively infinite at any scale
    this engine targets). At 100 TB Σx² in cents² approaches BIGINT
    range around 1e18 — switch the q accumulator to decimal(38,0) at
    that point; the plan is unchanged.

    Output (1 row): k, n, ssb, ssw, f_stat, significant.
    """
    g = (
        events.select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("ng"),
            F.sum("c").alias("sg"),
            F.sum(F.col("c") * F.col("c")).alias("qg"),
        )
    )
    m = g.agg(
        F.count("*").alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("qg").alias("q"),
        F.sum(
            F.col("sg").cast("double")
            * F.col("sg").cast("double")
            / F.col("ng").cast("double")
        ).alias("t1"),
    )
    nd = F.col("n").cast("double")
    ssb = F.col("t1") - F.col("s").cast("double") * F.col("s").cast(
        "double"
    ) / nd
    ssw = F.col("q").cast("double") - F.col("t1")
    fstat = (ssb / (F.col("k").cast("double") - 1)) / (
        ssw / (nd - F.col("k").cast("double"))
    )
    return m.select(
        "k",
        "n",
        F.round(ssb, 4).alias("ssb"),
        F.round(ssw, 4).alias("ssw"),
        F.round(fstat, 6).alias("f_stat"),
        (F.round(fstat, 6) > ANOVA_F_CRIT_05).alias("significant"),
    )




ORACLE_ANOVA = f"""
av_g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(c) AS BIGINT) AS sg,
         CAST(sum(c * c) AS BIGINT) AS qg
  FROM (
    SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
    FROM events
  ) GROUP BY 1
),
av_m AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(ng) AS BIGINT) AS n,
         CAST(sum(sg) AS BIGINT) AS s,
         CAST(sum(qg) AS BIGINT) AS q,
         sum(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
             / CAST(ng AS DOUBLE)) AS t1
  FROM av_g
),
anova_f_test AS (
  SELECT k, n,
         round(t1 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                    / CAST(n AS DOUBLE), 4) AS ssb,
         round(CAST(q AS DOUBLE) - t1, 4) AS ssw,
         round(((t1 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                      / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1))
               / ((CAST(q AS DOUBLE) - t1)
                  / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))),
               6) AS f_stat,
         round(((t1 - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                      / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1))
               / ((CAST(q AS DOUBLE) - t1)
                  / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))),
               6) > {ANOVA_F_CRIT_05} AS significant
  FROM av_m
)
"""




# ---------------------------------------------------------------------------
# permutation test (exact randomization inference for the A/B lift)
# ---------------------------------------------------------------------------

#: number of md5-derived label permutations.
PERM_B = 64




def permutation_test(events: DataFrame, b: int = PERM_B) -> DataFrame:
    """Randomization (permutation) test for the A/B mean-spend lift —
    the assumption-free significance check beside the parametric
    Welch/z family: reshuffle the variant labels B times, recompute
    the mean difference under each reshuffle, and report how often a
    label-blind world produces a gap at least as large as the
    observed one. p = (1 + #extreme) / (B + 1), the standard
    add-one-permutation estimator.

    Reshuffle b assigns user u to arm md5(u ':' b) parity — the
    deterministic permutation stream both engines replay identically.
    ALL B reshuffles run in ONE pass: explode the per-user spend
    table by sequence(0, B-1) (linear B×users rows, map-side
    combinable) and hash-agg to B difference rows; per-b sums are
    exact BIGINT cents, each difference is one scalar expression
    rounded at 6 dp before the >= comparison so the extreme-count is
    boundary-safe. B scales the explode linearly — at 100 TB pick B
    by the same token budget as any fact-table pass (the shuffle
    carries 4·B aggregate cells, nothing more).

    Output (1 row): n_users, b, obs_diff, n_extreme, p_value.
    """
    per_user = (
        events.filter(F.col("event_type") == AB_METRIC_TYPE)
        .groupBy("user_id")
        .agg(
            F.sum(
                F.round(F.col("value") * 100, 0).cast("bigint")
            ).alias("uc")
        )
    )
    obs = per_user.agg(
        F.count("*").alias("n_users"),
        F.round(
            F.sum(
                F.when(F.col("user_id") % 2 == 0, F.col("uc")).otherwise(0)
            )
            / F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
            - F.sum(
                F.when(F.col("user_id") % 2 == 1, F.col("uc")).otherwise(0)
            )
            / F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)),
            6,
        ).alias("obs_diff"),
    )
    lab = (
        per_user.select(
            "user_id",
            "uc",
            F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("b"),
        )
        .withColumn(
            "arm",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("user_id"), F.col("b"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % 2,
        )
    )
    per_b = lab.groupBy("b").agg(
        F.round(
            F.sum(F.when(F.col("arm") == 0, F.col("uc")).otherwise(0))
            / F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            - F.sum(F.when(F.col("arm") == 1, F.col("uc")).otherwise(0))
            / F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)),
            6,
        ).alias("diff")
    )
    return (
        per_b.crossJoin(F.broadcast(obs))
        .agg(
            F.max("n_users").alias("n_users"),
            F.count("*").alias("b"),
            F.max("obs_diff").alias("obs_diff"),
            F.sum(
                (F.abs(F.col("diff")) >= F.abs(F.col("obs_diff"))).cast(
                    "int"
                )
            ).alias("n_extreme"),
        )
        .select(
            "n_users",
            "b",
            "obs_diff",
            "n_extreme",
            F.round(
                (1 + F.col("n_extreme")) / (F.col("b").cast("double") + 1),
                6,
            ).alias("p_value"),
        )
    )




ORACLE_PERMTEST = f"""
pt_user AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS uc
  FROM events WHERE event_type = '{AB_METRIC_TYPE}' GROUP BY 1
),
pt_obs AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         round(CAST(sum(CASE WHEN user_id % 2 = 0 THEN uc ELSE 0 END)
                    AS BIGINT)
               / CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                      AS BIGINT)
               - CAST(sum(CASE WHEN user_id % 2 = 1 THEN uc ELSE 0 END)
                      AS BIGINT)
               / CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                      AS BIGINT), 6) AS obs_diff
  FROM pt_user
),
pt_lab AS (
  SELECT u.uc, t.b,
         CAST(('0x' || substr(md5(u.user_id || ':' || t.b), 1, 15))
              AS BIGINT) % 2 AS arm
  FROM pt_user u, LATERAL (SELECT unnest(range({PERM_B})) AS b) t
),
pt_b AS (
  SELECT b,
         round(CAST(sum(CASE WHEN arm = 0 THEN uc ELSE 0 END) AS BIGINT)
               / CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               - CAST(sum(CASE WHEN arm = 1 THEN uc ELSE 0 END) AS BIGINT)
               / CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT),
               6) AS diff
  FROM pt_lab GROUP BY 1
),
permutation_test AS (
  SELECT max(o.n_users) AS n_users,
         CAST(count(*) AS BIGINT) AS b,
         max(o.obs_diff) AS obs_diff,
         CAST(sum(CASE WHEN abs(p.diff) >= abs(o.obs_diff)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
         round((1 + CAST(sum(CASE WHEN abs(p.diff) >= abs(o.obs_diff)
                             THEN 1 ELSE 0 END) AS BIGINT))
               / (CAST(count(*) AS DOUBLE) + 1), 6) AS p_value
  FROM pt_b p, pt_obs o
)
"""




# ---------------------------------------------------------------------------
# standardized effect size (Cohen's d / Hedges g for the A/B contrast)
# ---------------------------------------------------------------------------


def effect_size_report(events: DataFrame) -> DataFrame:
    """Standardized effect size of the A/B spend contrast — the
    magnitude readout the significance family (Welch z, Mann-Whitney,
    permutation) deliberately doesn't give: Cohen's d on the pooled
    SD, the small-sample Hedges g correction, and the 95% CI of d.
    "Significant but d = 0.02" and "underpowered but d = 0.8" are the
    two decisions this row exists for.

    Per-arm moments are exact BIGINT cents from ONE user-grain agg +
    one 1-row reduction; d/g/CI are a single scalar expression each
    (the n·Σx² − (Σx)² variance identity), so both engines agree to
    the last bit before round(6).

    Output (1 row): n0, n1, mean_diff, cohen_d, hedges_g, d_lo, d_hi.
    """
    per_user = (
        events.filter(F.col("event_type") == AB_METRIC_TYPE)
        .groupBy("user_id")
        .agg(
            F.sum(
                F.round(F.col("value") * 100, 0).cast("bigint")
            ).alias("uc")
        )
        .select(
            "uc", (F.col("user_id") % 2).cast("int").alias("v")
        )
    )
    m = per_user.agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("v") == 0, F.col("uc")).otherwise(0)).alias(
            "s0"
        ),
        F.sum(
            F.when(F.col("v") == 0, F.col("uc") * F.col("uc")).otherwise(0)
        ).alias("q0"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("v") == 1, F.col("uc")).otherwise(0)).alias(
            "s1"
        ),
        F.sum(
            F.when(F.col("v") == 1, F.col("uc") * F.col("uc")).otherwise(0)
        ).alias("q1"),
    )
    n0, n1 = F.col("n0").cast("double"), F.col("n1").cast("double")
    ss0 = F.col("q0").cast("double") - F.col("s0").cast(
        "double"
    ) * F.col("s0").cast("double") / n0
    ss1 = F.col("q1").cast("double") - F.col("s1").cast(
        "double"
    ) * F.col("s1").cast("double") / n1
    sp = F.sqrt((ss0 + ss1) / (n0 + n1 - 2))
    diff = F.col("s1").cast("double") / n1 - F.col("s0").cast(
        "double"
    ) / n0
    d = diff / sp
    g = d * (1.0 - 3.0 / (4.0 * (n0 + n1) - 9.0))
    se = F.sqrt((n0 + n1) / (n0 * n1) + d * d / (2.0 * (n0 + n1)))
    return m.select(
        "n0",
        "n1",
        F.round(diff, 6).alias("mean_diff"),
        F.round(d, 6).alias("cohen_d"),
        F.round(g, 6).alias("hedges_g"),
        F.round(d - 1.96 * se, 6).alias("d_lo"),
        F.round(d + 1.96 * se, 6).alias("d_hi"),
    )




ORACLE_EFFECT_SIZE = f"""
es_u AS (
  SELECT CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS uc,
         CAST(user_id % 2 AS INT) AS v
  FROM events WHERE event_type = '{AB_METRIC_TYPE}'
  GROUP BY user_id
),
es_m AS (
  SELECT CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN v = 0 THEN uc ELSE 0 END) AS BIGINT) AS s0,
         CAST(sum(CASE WHEN v = 0 THEN uc * uc ELSE 0 END) AS BIGINT)
           AS q0,
         CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN v = 1 THEN uc ELSE 0 END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN v = 1 THEN uc * uc ELSE 0 END) AS BIGINT)
           AS q1
  FROM es_u
),
es_d AS (
  SELECT n0, n1,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
           - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS diff,
         (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
         / sqrt(((CAST(q0 AS DOUBLE)
                  - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
                    / CAST(n0 AS DOUBLE))
                 + (CAST(q1 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                      / CAST(n1 AS DOUBLE)))
                / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) - 2))
           AS d
  FROM es_m
),
effect_size_report AS (
  SELECT n0, n1,
         round(diff, 6) AS mean_diff,
         round(d, 6) AS cohen_d,
         round(d * (1.0 - 3.0 / (4.0 * (CAST(n0 AS DOUBLE)
                                        + CAST(n1 AS DOUBLE)) - 9.0)),
               6) AS hedges_g,
         round(d - 1.96 * sqrt((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))
                 / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))
                 + d * d / (2.0 * (CAST(n0 AS DOUBLE)
                                   + CAST(n1 AS DOUBLE)))), 6) AS d_lo,
         round(d + 1.96 * sqrt((CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE))
                 / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))
                 + d * d / (2.0 * (CAST(n0 AS DOUBLE)
                                   + CAST(n1 AS DOUBLE)))), 6) AS d_hi
  FROM es_d
)
"""




# ---------------------------------------------------------------------------
# paired tests: Wilcoxon signed-rank, McNemar, runs test
# ---------------------------------------------------------------------------

#: midpoint split for the paired pre/post design (microseconds).
PAIRED_SPLIT = "2024-01-16"




def wilcoxon_signed_rank(events: DataFrame) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED per-user spend — first
    half vs second half of the observation window for the SAME user —
    the within-subject companion of the (between-subject)
    Mann-Whitney: pairing removes user-level variance, so it detects
    temporal shifts whales would otherwise drown out. Zero
    differences drop (the standard convention); |d| midranks come
    from the doubled-rank ``ranking.value_prefix`` machinery, W+ = Σ ranks of
    positive diffs stays integral (doubled), and z uses the
    tie-corrected normal approximation.

    Output (1 row): n_pairs, w_plus_x2, z, significant.
    """
    per_user = (
        events.filter(F.col("event_type") == AB_METRIC_TYPE)
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("ts") < F.lit(PAIRED_SPLIT).cast("timestamp"),
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                ).otherwise(0)
            ).alias("pre"),
            F.sum(
                F.when(
                    F.col("ts") >= F.lit(PAIRED_SPLIT).cast("timestamp"),
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                ).otherwise(0)
            ).alias("post"),
        )
        .select((F.col("post") - F.col("pre")).alias("d"))
        .filter(F.col("d") != 0)
    )
    per_v = per_user.groupBy(F.abs("d").alias("ad")).agg(
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("cp"),
        F.sum(F.when(F.col("d") < 0, 1).otherwise(0)).alias("cn"),
    ).withColumn("c", F.col("cp") + F.col("cn"))
    ranked = _rank.value_prefix(per_v, ["c"], "ad").withColumnRenamed(
        "_pre_c", "p"
    )
    agg = ranked.agg(
        F.sum(F.col("cp") + F.col("cn")).alias("n"),
        F.sum(
            F.col("cp") * (F.lit(2) * F.col("p") + F.col("c") + 1)
        ).alias("wp_x2"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie_sum"),
    )
    nd = F.col("n").cast("double")
    mu_x2 = nd * (nd + 1) / 2.0
    var_x4 = nd * (nd + 1) * (2 * nd + 1) / 6.0 - F.col(
        "tie_sum"
    ).cast("double") / 12.0
    z = (F.col("wp_x2").cast("double") - mu_x2) / F.sqrt(var_x4)
    return agg.select(
        F.col("n").alias("n_pairs"),
        F.col("wp_x2").alias("w_plus_x2"),
        F.round(z, 6).alias("z"),
        (F.abs(F.round(z, 6)) > 1.96).alias("significant"),
    )




ORACLE_WILCOXON = f"""
wx_u AS (
  SELECT CAST(sum(CASE WHEN ts < TIMESTAMP '{PAIRED_SPLIT}'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS pre,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '{PAIRED_SPLIT}'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS post
  FROM events WHERE event_type = '{AB_METRIC_TYPE}'
  GROUP BY user_id
),
wx_d AS (
  SELECT post - pre AS d FROM wx_u WHERE post - pre <> 0
),
wx_v AS (
  SELECT abs(d) AS ad,
         CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS cn,
         CAST(count(*) AS BIGINT) AS c
  FROM wx_d GROUP BY 1
),
wx_r AS (
  SELECT cp, cn, c,
         CAST(coalesce(sum(c) OVER (ORDER BY ad
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS p
  FROM wx_v
),
wx_a AS (
  SELECT CAST(sum(cp + cn) AS BIGINT) AS n,
         CAST(sum(cp * (2 * p + c + 1)) AS BIGINT) AS wp_x2,
         CAST(sum(c * c * c - c) AS BIGINT) AS tie_sum
  FROM wx_r
),
wilcoxon_signed_rank AS (
  SELECT n AS n_pairs, wp_x2 AS w_plus_x2,
         round((CAST(wp_x2 AS DOUBLE)
                - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1) / 2.0)
               / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)
                      * (2 * CAST(n AS DOUBLE) + 1) / 6.0
                      - CAST(tie_sum AS DOUBLE) / 12.0), 6) AS z,
         abs(round((CAST(wp_x2 AS DOUBLE)
                - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1) / 2.0)
               / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)
                      * (2 * CAST(n AS DOUBLE) + 1) / 6.0
                      - CAST(tie_sum AS DOUBLE) / 12.0), 6)) > 1.96
           AS significant
  FROM wx_a
)
"""




def mcnemar_test(events: DataFrame) -> DataFrame:
    """McNemar test on paired binary outcomes: did each user purchase
    in the first half vs the second half of the window — the paired
    2×2 where only the DISCORDANT cells carry information:
    χ² = (b − c)²/(b + c) with 1 df. The binary sibling of the
    Wilcoxon pre/post design; one user-grain agg + one 4-cell
    reduction, everything integral until the final ratio.

    Output (1 row): n_both, pre_only, post_only, n_neither, chi2,
    significant.
    """
    flags = events.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("ts") < F.lit(PAIRED_SPLIT).cast("timestamp"))
            ).cast("int")
        ).alias("pre"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("ts") >= F.lit(PAIRED_SPLIT).cast("timestamp"))
            ).cast("int")
        ).alias("post"),
    )
    cells = flags.agg(
        F.sum(
            ((F.col("pre") == 1) & (F.col("post") == 1)).cast("int")
        ).alias("n_both"),
        F.sum(
            ((F.col("pre") == 1) & (F.col("post") == 0)).cast("int")
        ).alias("pre_only"),
        F.sum(
            ((F.col("pre") == 0) & (F.col("post") == 1)).cast("int")
        ).alias("post_only"),
        F.sum(
            ((F.col("pre") == 0) & (F.col("post") == 0)).cast("int")
        ).alias("n_neither"),
    )
    b, c = F.col("pre_only"), F.col("post_only")
    chi2 = ((b - c) * (b - c)).cast("double") / (b + c).cast("double")
    return cells.select(
        "n_both",
        "pre_only",
        "post_only",
        "n_neither",
        F.round(chi2, 6).alias("chi2"),
        (F.round(chi2, 6) > 3.841).alias("significant"),
    )




ORACLE_MCNEMAR = f"""
mn_u AS (
  SELECT CAST(max(CASE WHEN event_type = 'purchase'
                        AND ts < TIMESTAMP '{PAIRED_SPLIT}'
                       THEN 1 ELSE 0 END) AS INT) AS pre,
         CAST(max(CASE WHEN event_type = 'purchase'
                        AND ts >= TIMESTAMP '{PAIRED_SPLIT}'
                       THEN 1 ELSE 0 END) AS INT) AS post
  FROM events GROUP BY user_id
),
mn_c AS (
  SELECT CAST(sum(CASE WHEN pre = 1 AND post = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_both,
         CAST(sum(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS pre_only,
         CAST(sum(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS post_only,
         CAST(sum(CASE WHEN pre = 0 AND post = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_neither
  FROM mn_u
),
mcnemar_test AS (
  SELECT n_both, pre_only, post_only, n_neither,
         round(CAST((pre_only - post_only) * (pre_only - post_only)
                    AS DOUBLE)
               / CAST(pre_only + post_only AS DOUBLE), 6) AS chi2,
         round(CAST((pre_only - post_only) * (pre_only - post_only)
                    AS DOUBLE)
               / CAST(pre_only + post_only AS DOUBLE), 6) > 3.841
           AS significant
  FROM mn_c
)
"""




# ---------------------------------------------------------------------------
# Kruskal-Wallis H test (k-group rank test with exact tie handling)
# ---------------------------------------------------------------------------

#: chi-square critical value at alpha=.05 for df = k-1 = 4 groups.
KRUSKAL_CHI2_CRIT_05 = 9.487729




def kruskal_wallis(events: DataFrame) -> DataFrame:
    """Kruskal-Wallis H test of event value across the five event
    types — the k-group generalization of ``events_mannwhitney``
    (rank-based, outlier-immune) beside the parametric
    ``events_anova``. Ranks use the exact mid-rank tie convention.

    EXACT INTEGER ranks with zero global windows: values collapse to
    cent-grain (value, count) rows; the exclusive prefix count below
    each distinct value comes from ``ranking.value_prefix`` —
    octave buckets (data-independent at any scale) get exclusive
    offsets from packed-array prefix sums (no WindowExec) and
    within-octave prefixes a PARTITIONED window over the cent-grain
    rows. The doubled
    mid-rank 2r(v) = 2*pre(v) + cnt(v) + 1 is integer, so each
    group's doubled rank-sum R2_g = sum n_gv * 2r(v) is an exact
    DECIMAL(38,0) (HUGEINT in the oracle), as are the tie term
    T = sum(t^3 - t) and N. H and its tie correction assemble from
    the k=5 group rows in doubles (fold noise ~5 ulp, far below the
    6-dp edge), mirroring the ANOVA convention.

    Scale shape: one cent-grain hash-agg over the fact table is the
    only corpus-sized stage; everything after runs on cent-grain and
    5-row frames. Output (1 row): k, n, h_stat, h_tie_adj,
    significant.
    """
    cg = events.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )
    tg = cg.groupBy("event_type", "c").agg(
        F.count("*").alias("ntc")
    )
    vg = tg.groupBy("c").agg(F.sum("ntc").alias("cnt"))
    pre = _rank.value_prefix(vg, ["cnt"], "c").select(
        "c", "cnt", F.col("_pre_cnt").alias("pre")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    r = (
        tg.join(pre, "c")
        .groupBy("event_type")
        .agg(
            F.sum("ntc").alias("ng"),
            F.sum(
                dec(F.col("ntc"))
                * dec(2 * F.col("pre") + F.col("cnt") + 1)
            ).alias("r2"),
        )
    )
    t = vg.agg(
        F.sum(
            dec(F.col("cnt")) * dec(F.col("cnt")) * dec(F.col("cnt"))
            - dec(F.col("cnt"))
        ).alias("tt"),
        F.sum("cnt").alias("nn"),
    )
    m = r.agg(
        F.count("*").alias("k"),
        F.sum(
            F.col("r2").cast("double")
            * F.col("r2").cast("double")
            / (4 * F.col("ng").cast("double"))
        ).alias("t1"),
    ).crossJoin(t)
    nd = F.col("nn").cast("double")
    h = 12 * F.col("t1") / (nd * (nd + 1)) - 3 * (nd + 1)
    corr = 1 - F.col("tt").cast("double") / (nd * nd * nd - nd)
    hadj = h / corr
    return m.select(
        "k",
        F.col("nn").alias("n"),
        F.round(h, 6).alias("h_stat"),
        F.round(hadj, 6).alias("h_tie_adj"),
        (F.round(hadj, 6) > KRUSKAL_CHI2_CRIT_05).alias(
            "significant"
        ),
    )




ORACLE_KRUSKAL = f"""
kw_c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
),
kw_tg AS (
  SELECT event_type, c, CAST(count(*) AS BIGINT) AS ntc
  FROM kw_c GROUP BY 1, 2
),
kw_vg AS (
  SELECT c, CAST(sum(ntc) AS BIGINT) AS cnt FROM kw_tg GROUP BY 1
),
kw_pre AS (
  SELECT c, cnt,
         CAST(coalesce(sum(cnt) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS pre
  FROM kw_vg
),
kw_r AS (
  SELECT t.event_type, CAST(sum(t.ntc) AS BIGINT) AS ng,
         CAST(sum(CAST(t.ntc AS HUGEINT)
                  * (2 * p.pre + p.cnt + 1)) AS HUGEINT) AS r2
  FROM kw_tg t JOIN kw_pre p ON t.c = p.c GROUP BY 1
),
kw_t AS (
  SELECT CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt)
              AS HUGEINT) AS tt,
         CAST(sum(cnt) AS BIGINT) AS nn
  FROM kw_vg
),
kw_m AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM kw_r) AS k,
         (SELECT sum(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
                     / (4 * CAST(ng AS DOUBLE))) FROM kw_r) AS t1,
         tt, nn
  FROM kw_t
),
kruskal_wallis AS (
  SELECT k, nn AS n,
         round(12 * t1 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE)
               + 1)) - 3 * (CAST(nn AS DOUBLE) + 1), 6) AS h_stat,
         round((12 * t1 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE)
               + 1)) - 3 * (CAST(nn AS DOUBLE) + 1))
               / (1 - CAST(tt AS DOUBLE)
                  / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                     * CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE))), 6)
           AS h_tie_adj,
         round((12 * t1 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE)
               + 1)) - 3 * (CAST(nn AS DOUBLE) + 1))
               / (1 - CAST(tt AS DOUBLE)
                  / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                     * CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE))), 6)
           > {KRUSKAL_CHI2_CRIT_05} AS significant
  FROM kw_m
)
"""




# ---------------------------------------------------------------------------
# Levene's test (variance homogeneity across the k groups)
# ---------------------------------------------------------------------------


def levene_test(events: DataFrame) -> DataFrame:
    """Levene's test for homogeneity of variance of event value
    across the five event types — the formal inferential test beside
    the Hartley Fmax screen (``events_variance_ratio``): where Fmax
    just ratios the extreme variances, Levene runs a one-way ANOVA F
    on the absolute deviations z_i = |x_i - mean(group)|, giving an
    actual F-distributed statistic that tolerates non-normal tails.

    EXACT INTEGER deviations with no rational rounding: the group
    mean s_g/n_g never materializes — each deviation is carried as
    the integer numerator |c_i * n_g - s_g| over the implicit
    denominator n_g, so the per-group moments Z_g = sum|.| and
    Q_g = sum(.)^2 are exact DECIMAL(38,0)/HUGEINT. The F statistic
    then assembles from the k=5 group rows in doubles
    (SSB = sum Z_g^2/n_g^3 - (sum Z_g/n_g)^2/N,
    SSW = sum Q_g/n_g^2 - Z_g^2/n_g^3 — the n_g powers restore each
    group's denominator), the same bounded 5-row fold as ANOVA.

    Scale shape: two map-side-combinable passes over the fact table
    (moments, then deviations against the broadcast 5-row group
    frame) — no window, no shuffle beyond the two hash-aggs.
    Overflow envelope: Q_g <= n_g * (c_max * n_g)^2 ~ 1e38 at
    n_g ~ 3e9 rows/group with 5-digit cent values; beyond that,
    pre-scale cents to dollars (document, don't silently saturate).
    Output (1 row): k, n, ssb, ssw, w_stat, homogeneous.
    """
    cg = events.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )
    g = cg.groupBy("event_type").agg(
        F.count("*").alias("ng"), F.sum("c").alias("sg")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dev = cg.join(F.broadcast(g), "event_type").select(
        "event_type",
        "ng",
        F.abs(
            dec(F.col("c")) * dec(F.col("ng")) - dec(F.col("sg"))
        ).alias("d"),
    )
    gm = dev.groupBy("event_type").agg(
        F.max("ng").alias("ng"),
        F.sum("d").alias("z1"),
        F.sum(F.col("d") * F.col("d")).alias("q"),
    )
    ngd = F.col("ng").cast("double")
    m = gm.agg(
        F.count("*").alias("k"),
        F.sum("ng").alias("n"),
        F.sum(
            F.col("z1").cast("double")
            * F.col("z1").cast("double")
            / (ngd * ngd * ngd)
        ).alias("t1"),
        F.sum(F.col("z1").cast("double") / ngd).alias("zb"),
        F.sum(
            F.col("q").cast("double") / (ngd * ngd)
        ).alias("t2"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    ssb = F.col("t1") - F.col("zb") * F.col("zb") / nd
    ssw = F.col("t2") - F.col("t1")
    w = (ssb / (kd - 1)) / (ssw / (nd - kd))
    return m.select(
        "k",
        "n",
        F.round(ssb, 4).alias("ssb"),
        F.round(ssw, 4).alias("ssw"),
        F.round(w, 6).alias("w_stat"),
        (F.round(w, 6) <= ANOVA_F_CRIT_05).alias("homogeneous"),
    )




ORACLE_LEVENE = f"""
lv_c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
),
lv_g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(c) AS BIGINT) AS sg
  FROM lv_c GROUP BY 1
),
lv_d AS (
  SELECT c.event_type, g.ng,
         abs(CAST(c.c AS HUGEINT) * g.ng - g.sg) AS d
  FROM lv_c c JOIN lv_g g ON c.event_type = g.event_type
),
lv_gm AS (
  SELECT event_type, CAST(max(ng) AS BIGINT) AS ng,
         CAST(sum(d) AS HUGEINT) AS z1,
         CAST(sum(d * d) AS HUGEINT) AS q
  FROM lv_d GROUP BY 1
),
lv_m AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(ng) AS BIGINT) AS n,
         sum(CAST(z1 AS DOUBLE) * CAST(z1 AS DOUBLE)
             / (CAST(ng AS DOUBLE) * CAST(ng AS DOUBLE)
                * CAST(ng AS DOUBLE))) AS t1,
         sum(CAST(z1 AS DOUBLE) / CAST(ng AS DOUBLE)) AS zb,
         sum(CAST(q AS DOUBLE)
             / (CAST(ng AS DOUBLE) * CAST(ng AS DOUBLE))) AS t2
  FROM lv_gm
),
levene_test AS (
  SELECT k, n,
         round(t1 - zb * zb / CAST(n AS DOUBLE), 4) AS ssb,
         round(t2 - t1, 4) AS ssw,
         round(((t1 - zb * zb / CAST(n AS DOUBLE))
                / (CAST(k AS DOUBLE) - 1))
               / ((t2 - t1) / (CAST(n AS DOUBLE)
                               - CAST(k AS DOUBLE))), 6) AS w_stat,
         round(((t1 - zb * zb / CAST(n AS DOUBLE))
                / (CAST(k AS DOUBLE) - 1))
               / ((t2 - t1) / (CAST(n AS DOUBLE)
                               - CAST(k AS DOUBLE))), 6)
           <= {ANOVA_F_CRIT_05} AS homogeneous
  FROM lv_m
)
"""




# ---------------------------------------------------------------------------
# Friedman test (blocked rank test: event types ranked within each day)
# ---------------------------------------------------------------------------


def friedman_test(events: DataFrame) -> DataFrame:
    """Friedman test of whether the five event types keep the same
    activity ordering day after day — the BLOCKED rank test (each
    calendar day is a block, types are ranked within the day by
    event count), immune to day-level volume swings that would
    swamp the unblocked Kruskal-Wallis.

    ALL-INTEGER Conover form: within-block mid-ranks come from the
    day-grain grid self-joined against itself (k^2 rows per day,
    calendar-bounded) as doubled ranks 2r = 2*#smaller + #tied + 1;
    with A4 = sum (2r)^2 and R2_j = sum_d 2r the tie-robust statistic
        T = (k-1) * sum_j (R2_j - b(k+1))^2 / (A4 - b*k*(k+1)^2)
    is a ratio of two exact BIGINTs — the doubling cancels, so the
    ONLY float is the final rounded division (NULL when every day
    ranks every type identically — zero rank variance). Missing
    (day, type) cells enter as 0 via the dense day x type grid.

    Scale: one (day, type) hash-agg over the fact table, then
    calendar-bounded grid algebra; no windows. Output (1 row):
    n_days, k, chi2_f, significant (vs chi-square df=4 at .05 —
    the fixture's k=5; re-literal for other treatment counts).
    """
    dtc = (
        events.groupBy(
            F.to_date("ts").alias("d"), F.col("event_type").alias("ty")
        )
        .agg(F.count("*").alias("x"))
    )
    days = dtc.select("d").distinct()
    types = dtc.select("ty").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(dtc, ["d", "ty"], "left")
        .select("d", "ty", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
    )
    other = grid.select(
        F.col("d").alias("d2"),
        F.col("x").alias("x2"),
    )
    r2 = (
        grid.join(other, F.col("d") == F.col("d2"))
        .groupBy("d", "ty", "x")
        .agg(
            (
                2 * F.sum((F.col("x2") < F.col("x")).cast("bigint"))
                + F.sum((F.col("x2") == F.col("x")).cast("bigint"))
                + 1
            ).alias("r2")
        )
    )
    per_type = r2.groupBy("ty").agg(F.sum("r2").alias("rj2"))
    tot = r2.agg(
        F.countDistinct("d").alias("b"),
        F.countDistinct("ty").alias("k"),
        F.sum(F.col("r2") * F.col("r2")).alias("a4"),
    )
    m = (
        per_type.crossJoin(F.broadcast(tot))
        .groupBy("b", "k", "a4")
        .agg(
            F.sum(
                (F.col("rj2") - F.col("b") * (F.col("k") + 1))
                * (F.col("rj2") - F.col("b") * (F.col("k") + 1))
            ).alias("num")
        )
    )
    den = F.col("a4") - F.col("b") * F.col("k") * (F.col("k") + 1) * (
        F.col("k") + 1
    )
    chi = F.when(
        den != 0,
        F.round(
            ((F.col("k") - 1) * F.col("num")).cast("double")
            / den.cast("double"),
            6,
        ),
    )
    return m.select(
        F.col("b").alias("n_days"),
        "k",
        chi.alias("chi2_f"),
        (chi > KRUSKAL_CHI2_CRIT_05).alias("significant"),
    )




ORACLE_FRIEDMAN = f"""
fr_dtc AS (
  SELECT CAST(ts AS DATE) AS d, event_type AS ty,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
fr_grid AS (
  SELECT dd.d, tt.ty, coalesce(c.x, 0) AS x
  FROM (SELECT DISTINCT d FROM fr_dtc) dd
  CROSS JOIN (SELECT DISTINCT ty FROM fr_dtc) tt
  LEFT JOIN fr_dtc c ON c.d = dd.d AND c.ty = tt.ty
),
fr_r2 AS (
  SELECT g.d, g.ty, g.x,
         2 * CAST(sum(CASE WHEN o.x < g.x THEN 1 ELSE 0 END)
                  AS BIGINT)
         + CAST(sum(CASE WHEN o.x = g.x THEN 1 ELSE 0 END)
                AS BIGINT) + 1 AS r2
  FROM fr_grid g JOIN fr_grid o ON g.d = o.d
  GROUP BY 1, 2, 3
),
fr_pt AS (
  SELECT ty, CAST(sum(r2) AS BIGINT) AS rj2 FROM fr_r2 GROUP BY 1
),
fr_tot AS (
  SELECT CAST(count(DISTINCT d) AS BIGINT) AS b,
         CAST(count(DISTINCT ty) AS BIGINT) AS k,
         CAST(sum(r2 * r2) AS BIGINT) AS a4
  FROM fr_r2
),
fr_m AS (
  SELECT b, k, a4,
         CAST(sum((rj2 - b * (k + 1)) * (rj2 - b * (k + 1)))
              AS BIGINT) AS num
  FROM fr_pt, fr_tot GROUP BY 1, 2, 3
),
friedman_test AS (
  SELECT b AS n_days, k,
         CASE WHEN a4 - b * k * (k + 1) * (k + 1) <> 0 THEN
           round(CAST((k - 1) * num AS DOUBLE)
                 / CAST(a4 - b * k * (k + 1) * (k + 1) AS DOUBLE), 6)
         END AS chi2_f,
         CASE WHEN a4 - b * k * (k + 1) * (k + 1) <> 0 THEN
           round(CAST((k - 1) * num AS DOUBLE)
                 / CAST(a4 - b * k * (k + 1) * (k + 1) AS DOUBLE), 6)
         END > {KRUSKAL_CHI2_CRIT_05} AS significant
  FROM fr_m
)
"""




# ---------------------------------------------------------------------------
# Tukey HSD post-hoc pairwise comparisons (after the ANOVA omnibus)
# ---------------------------------------------------------------------------

#: studentized-range critical value q(.05; k=5 groups, df=inf) — the
#: same infinite-df convention as the ANOVA literal (any SF this
#: engine targets has df2 >> 120).
TUKEY_Q_CRIT_05_K5 = 3.858




def tukey_hsd(events: DataFrame) -> DataFrame:
    """Tukey HSD post-hoc: which PAIRS of event types differ in mean
    value, with the studentized-range correction that keeps the
    familywise error at .05 across all C(5,2)=10 comparisons — the
    follow-up question ``events_anova``'s single omnibus F cannot
    answer (and the multiplicity trap of running 10 raw Welch tests;
    the generic BH machinery for that lives in
    ``events_multi_test_bh``).

    Same exact integer moments as the ANOVA (ONE hash-agg: n_g, Σc,
    Σc² per group); MSW assembles in doubles from the k=5 rows, and
    each pair row computes q = |mean_i - mean_j| /
    sqrt(MSW/2 * (1/n_i + 1/n_j)) as one mirrored double chain. The
    pair join is k^2-bounded (string-ordered to emit each unordered
    pair once, deterministically in both engines).

    Output (10 rows): type_a, type_b, n_a, n_b, mean_diff_cents,
    q_stat, significant.
    """
    g = (
        events.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("ng"),
            F.sum("c").alias("sg"),
            F.sum(F.col("c") * F.col("c")).alias("qg"),
        )
    )
    msw = g.agg(
        F.sum("ng").alias("n"),
        F.count("*").alias("k"),
        (
            F.sum(F.col("qg").cast("double"))
            - F.sum(
                F.col("sg").cast("double")
                * F.col("sg").cast("double")
                / F.col("ng").cast("double")
            )
        ).alias("ssw"),
    ).select(
        (
            F.col("ssw")
            / (F.col("n").cast("double") - F.col("k").cast("double"))
        ).alias("msw")
    )
    a = g.select(
        F.col("event_type").alias("type_a"),
        F.col("ng").alias("n_a"),
        F.col("sg").alias("s_a"),
    )
    b = g.select(
        F.col("event_type").alias("type_b"),
        F.col("ng").alias("n_b"),
        F.col("sg").alias("s_b"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b")).crossJoin(
        F.broadcast(msw)
    )
    diff = F.abs(
        F.col("s_a").cast("double") / F.col("n_a").cast("double")
        - F.col("s_b").cast("double") / F.col("n_b").cast("double")
    )
    se = F.sqrt(
        F.col("msw")
        / 2
        * (
            1 / F.col("n_a").cast("double")
            + 1 / F.col("n_b").cast("double")
        )
    )
    q = F.round(diff / se, 6)
    return pairs.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        F.round(diff, 4).alias("mean_diff_cents"),
        q.alias("q_stat"),
        (q > TUKEY_Q_CRIT_05_K5).alias("significant"),
    )




ORACLE_TUKEY = f"""
tk_g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(c) AS BIGINT) AS sg,
         CAST(sum(c * c) AS BIGINT) AS qg
  FROM (SELECT event_type,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL)
  GROUP BY 1
),
tk_msw AS (
  SELECT (sum(CAST(qg AS DOUBLE))
          - sum(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                / CAST(ng AS DOUBLE)))
         / (CAST(sum(ng) AS DOUBLE) - CAST(count(*) AS DOUBLE))
           AS msw
  FROM tk_g
),
tukey_hsd AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.ng AS n_a, b.ng AS n_b,
         round(abs(CAST(a.sg AS DOUBLE) / CAST(a.ng AS DOUBLE)
                   - CAST(b.sg AS DOUBLE) / CAST(b.ng AS DOUBLE)),
               4) AS mean_diff_cents,
         round(abs(CAST(a.sg AS DOUBLE) / CAST(a.ng AS DOUBLE)
                   - CAST(b.sg AS DOUBLE) / CAST(b.ng AS DOUBLE))
               / sqrt(msw / 2 * (1 / CAST(a.ng AS DOUBLE)
                                 + 1 / CAST(b.ng AS DOUBLE))), 6)
           AS q_stat,
         round(abs(CAST(a.sg AS DOUBLE) / CAST(a.ng AS DOUBLE)
                   - CAST(b.sg AS DOUBLE) / CAST(b.ng AS DOUBLE))
               / sqrt(msw / 2 * (1 / CAST(a.ng AS DOUBLE)
                                 + 1 / CAST(b.ng AS DOUBLE))), 6)
           > {TUKEY_Q_CRIT_05_K5} AS significant
  FROM tk_g a JOIN tk_g b ON a.event_type < b.event_type, tk_msw
)
"""




# ---------------------------------------------------------------------------
# energy distance (exact-integer two-sample distribution test)
# ---------------------------------------------------------------------------


def energy_distance(events: DataFrame) -> DataFrame:
    """Energy distance between the purchase and click value
    distributions — the moment-free two-sample test that is
    consistent against ANY distributional difference (location,
    scale, shape), where KS (``events_ks_drift``) keys on the single
    largest CDF gap and Wasserstein (``events_wasserstein``) on mean
    transport: E = 2*E|X-Y| - E|X-X'| - E|Y-Y'|, plus the Szekely-
    Rizzo e-statistic nm/(n+m)*E.

    EXACT INTEGER pair sums without the quadratic pair join: on the
    merged cent grain, every absolute-difference sum decomposes
    through exclusive prefix sums — sum_pairs |x-y| = sum_v cx(v) *
    [(v*N_below - S_below) + (S_above - v*N_above)] — so A = sum
    |X-Y|, B = sum |X-X'|, C = sum |Y-Y'| are exact DECIMAL(38,0)/
    HUGEINT from ONE prefix pass (octave-bucket kernel + partitioned
    within-bucket windows, zero global windows, the Kruskal-Wallis
    shape with four running sums). E and the e-statistic are the
    only double arithmetic, mirrored and rounded at 6 dp.

    Scale: one cent-grain hash-agg over the fact table; everything
    after runs on cent-grain and 1-row frames. Output (1 row):
    n_x, n_y, a_cross, b_within_x, c_within_y, energy_dist, e_stat.
    """
    ev = events.filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    ).select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v"),
        (F.col("event_type") == "purchase").alias("is_x"),
    )
    vg = ev.groupBy("v").agg(
        F.sum(F.when(F.col("is_x"), 1).otherwise(0)).alias("cx"),
        F.sum(F.when(F.col("is_x"), 0).otherwise(1)).alias("cy"),
    ).select(
        "v",
        "cx",
        "cy",
        (F.col("cx") * F.col("v")).alias("sx"),
        (F.col("cy") * F.col("v")).alias("sy"),
    )
    cols = ["cx", "cy", "sx", "sy"]
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pre = _rank.value_prefix(vg, cols, "v").select(
        "v",
        "cx",
        "cy",
        *[F.col(f"_pre_{c}").alias(f"p{c}") for c in cols],
    )
    tot = vg.agg(
        F.sum("cx").alias("nx"),
        F.sum("cy").alias("ny"),
        F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"),
    )
    j = pre.crossJoin(F.broadcast(tot))

    def _term(cnt: str, pn: str, ps: str, tn, ts) -> F.Column:
        below = dec(F.col("v")) * dec(F.col(pn)) - dec(F.col(ps))
        above = (
            dec(ts)
            - dec(F.col(ps))
            - dec(F.col("v")) * dec(F.col(cnt))
        ) - dec(F.col("v")) * (
            dec(tn) - dec(F.col(pn)) - dec(F.col(cnt))
        )
        return below + above

    m = j.agg(
        F.max("nx").alias("nx"),
        F.max("ny").alias("ny"),
        F.sum(
            dec(F.col("cx"))
            * _term("cy", "pcy", "psy", F.col("ny"), F.col("tsy"))
        ).alias("a"),
        F.sum(
            dec(F.col("cx"))
            * _term("cx", "pcx", "psx", F.col("nx"), F.col("tsx"))
        ).alias("b"),
        F.sum(
            dec(F.col("cy"))
            * _term("cy", "pcy", "psy", F.col("ny"), F.col("tsy"))
        ).alias("c"),
    )
    nd, md = F.col("nx").cast("double"), F.col("ny").cast("double")
    e = (
        2 * F.col("a").cast("double") / (nd * md)
        - F.col("b").cast("double") / (nd * nd)
        - F.col("c").cast("double") / (md * md)
    )
    return m.select(
        F.col("nx").alias("n_x"),
        F.col("ny").alias("n_y"),
        F.col("a").cast("decimal(38,0)").alias("a_cross"),
        F.col("b").cast("decimal(38,0)").alias("b_within_x"),
        F.col("c").cast("decimal(38,0)").alias("c_within_y"),
        F.round(e, 6).alias("energy_dist"),
        F.round(nd * md / (nd + md) * e, 6).alias("e_stat"),
    )




ORACLE_ENERGY = """
en_v AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
         event_type = 'purchase' AS is_x
  FROM events WHERE event_type IN ('purchase', 'click')
    AND value IS NOT NULL
),
en_g AS (
  SELECT v,
         CAST(sum(CASE WHEN is_x THEN 1 ELSE 0 END) AS BIGINT)
           AS cx,
         CAST(sum(CASE WHEN is_x THEN 0 ELSE 1 END) AS BIGINT)
           AS cy
  FROM en_v GROUP BY 1
),
en_p AS (
  SELECT v, cx, cy,
         CAST(coalesce(sum(cx) OVER w, 0) AS BIGINT) AS pcx,
         CAST(coalesce(sum(cy) OVER w, 0) AS BIGINT) AS pcy,
         CAST(coalesce(sum(cx * v) OVER w, 0) AS BIGINT) AS psx,
         CAST(coalesce(sum(cy * v) OVER w, 0) AS BIGINT) AS psy
  FROM en_g
  WINDOW w AS (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
en_t AS (
  SELECT CAST(sum(cx) AS BIGINT) AS nx,
         CAST(sum(cy) AS BIGINT) AS ny,
         CAST(sum(cx * v) AS BIGINT) AS tsx,
         CAST(sum(cy * v) AS BIGINT) AS tsy
  FROM en_g
),
en_m AS (
  SELECT nx, ny,
         CAST(sum(CAST(cx AS HUGEINT)
           * ((CAST(v AS HUGEINT) * pcy - psy)
              + ((CAST(tsy AS HUGEINT) - psy - CAST(v AS HUGEINT)
                  * cy)
                 - CAST(v AS HUGEINT) * (CAST(ny AS HUGEINT) - pcy
                                         - cy)))) AS HUGEINT) AS a,
         CAST(sum(CAST(cx AS HUGEINT)
           * ((CAST(v AS HUGEINT) * pcx - psx)
              + ((CAST(tsx AS HUGEINT) - psx - CAST(v AS HUGEINT)
                  * cx)
                 - CAST(v AS HUGEINT) * (CAST(nx AS HUGEINT) - pcx
                                         - cx)))) AS HUGEINT) AS b,
         CAST(sum(CAST(cy AS HUGEINT)
           * ((CAST(v AS HUGEINT) * pcy - psy)
              + ((CAST(tsy AS HUGEINT) - psy - CAST(v AS HUGEINT)
                  * cy)
                 - CAST(v AS HUGEINT) * (CAST(ny AS HUGEINT) - pcy
                                         - cy)))) AS HUGEINT) AS c
  FROM en_p, en_t GROUP BY 1, 2
),
energy_distance AS (
  SELECT nx AS n_x, ny AS n_y,
         CAST(a AS DECIMAL(38, 0)) AS a_cross,
         CAST(b AS DECIMAL(38, 0)) AS b_within_x,
         CAST(c AS DECIMAL(38, 0)) AS c_within_y,
         round(2 * CAST(a AS DOUBLE) / (CAST(nx AS DOUBLE)
               * CAST(ny AS DOUBLE))
               - CAST(b AS DOUBLE) / (CAST(nx AS DOUBLE)
                                      * CAST(nx AS DOUBLE))
               - CAST(c AS DOUBLE) / (CAST(ny AS DOUBLE)
                                      * CAST(ny AS DOUBLE)), 6)
           AS energy_dist,
         round(CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)
               / (CAST(nx AS DOUBLE) + CAST(ny AS DOUBLE))
               * (2 * CAST(a AS DOUBLE) / (CAST(nx AS DOUBLE)
                  * CAST(ny AS DOUBLE))
                  - CAST(b AS DOUBLE) / (CAST(nx AS DOUBLE)
                                         * CAST(nx AS DOUBLE))
                  - CAST(c AS DOUBLE) / (CAST(ny AS DOUBLE)
                                         * CAST(ny AS DOUBLE))), 6)
           AS e_stat
  FROM en_m
)
"""




# ---------------------------------------------------------------------------
# Mood's median test (k-group location test on the grand median)
# ---------------------------------------------------------------------------


def mood_median_test(events: DataFrame) -> DataFrame:
    """Mood's median test: do the five event types straddle the GRAND
    median of value differently — the maximally outlier-robust
    k-group location test (only above/below survives), the blunt
    cousin of Kruskal-Wallis (``events_kruskal_wallis``) that stays
    valid under wildly different group shapes.

    The grand median is the smallest value whose inclusive
    cumulative count reaches (n+1)/2 under FLOAT division — i.e. the
    lower median for odd n and the UPPER median (rank n/2 + 1) for
    even n; both engines mirror this upper-median convention. It is
    selected by the same zero-global-window bucketed prefix
    machinery as ``events_median_ci``; values EQUAL to it are
    dropped (documented convention). The k x 2 contingency table is
    then one conditional hash-agg, and chi2 = sum (O-E)^2/E
    assembles from the k=5 rows with E = row*col/T — exact integer
    counts into one mirrored double chain, rounded at 6 dp.

    Two corpus passes (value-grain agg; above/below count against
    the broadcast 1-row median). Output (1 row): k, n_used,
    n_ties_dropped, grand_median_cents, chi2, significant (df=4
    convention of the fixture's k=5 — same literal as the KW test).
    """
    cg = events.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )
    vg = cg.groupBy("c").agg(F.count("*").alias("cnt"))
    cum = _rank.value_prefix(vg, ["cnt"], "c", inclusive=True).select(
        "c", F.col("_pre_cnt").alias("cum")
    )
    tot = vg.agg(F.sum("cnt").alias("n"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= (F.col("n") + 1) / 2,
                    F.col("c"),
                )
            ).alias("med")
        )
    )
    g = (
        cg.crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.sum((F.col("c") > F.col("med")).cast("bigint")).alias(
                "ab"
            ),
            F.sum((F.col("c") < F.col("med")).cast("bigint")).alias(
                "be"
            ),
            F.sum((F.col("c") == F.col("med")).cast("bigint")).alias(
                "ti"
            ),
            F.max("med").alias("med"),
        )
    )
    m = g.agg(
        F.count("*").alias("k"),
        F.sum("ab").alias("ta"),
        F.sum("be").alias("tb"),
        F.sum("ti").alias("tt"),
        F.max("med").alias("med"),
        F.sum(
            F.col("ab").cast("double") * F.col("ab").cast("double")
            / (F.col("ab") + F.col("be")).cast("double")
        ).alias("qa"),
        F.sum(
            F.col("be").cast("double") * F.col("be").cast("double")
            / (F.col("ab") + F.col("be")).cast("double")
        ).alias("qb"),
    )
    tu = (F.col("ta") + F.col("tb")).cast("double")
    chi = tu * (
        F.col("qa") / F.col("ta").cast("double")
        + F.col("qb") / F.col("tb").cast("double")
    ) - tu
    return m.select(
        "k",
        (F.col("ta") + F.col("tb")).alias("n_used"),
        F.col("tt").alias("n_ties_dropped"),
        F.col("med").alias("grand_median_cents"),
        F.round(chi, 6).alias("chi2"),
        (F.round(chi, 6) > KRUSKAL_CHI2_CRIT_05).alias("significant"),
    )




ORACLE_MOOD = f"""
md_c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
),
md_v AS (
  SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM md_c GROUP BY 1
),
md_cum AS (
  SELECT c, CAST(sum(cnt) OVER (ORDER BY c
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cum
  FROM md_v
),
md_m AS (
  SELECT min(CASE WHEN cum >= (n + 1) / 2 THEN c END) AS med
  FROM md_cum, (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM md_v)
),
md_g AS (
  SELECT event_type,
         CAST(sum(CASE WHEN c > med THEN 1 ELSE 0 END) AS BIGINT)
           AS ab,
         CAST(sum(CASE WHEN c < med THEN 1 ELSE 0 END) AS BIGINT)
           AS be,
         CAST(sum(CASE WHEN c = med THEN 1 ELSE 0 END) AS BIGINT)
           AS ti,
         CAST(max(med) AS BIGINT) AS med
  FROM md_c, md_m GROUP BY 1
),
md_a AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(ab) AS BIGINT) AS ta,
         CAST(sum(be) AS BIGINT) AS tb,
         CAST(sum(ti) AS BIGINT) AS tt,
         CAST(max(med) AS BIGINT) AS med,
         sum(CAST(ab AS DOUBLE) * CAST(ab AS DOUBLE)
             / CAST(ab + be AS DOUBLE)) AS qa,
         sum(CAST(be AS DOUBLE) * CAST(be AS DOUBLE)
             / CAST(ab + be AS DOUBLE)) AS qb
  FROM md_g
),
mood_median_test AS (
  SELECT k, ta + tb AS n_used, tt AS n_ties_dropped,
         med AS grand_median_cents,
         round(CAST(ta + tb AS DOUBLE)
               * (qa / CAST(ta AS DOUBLE) + qb / CAST(tb AS DOUBLE))
               - CAST(ta + tb AS DOUBLE), 6) AS chi2,
         round(CAST(ta + tb AS DOUBLE)
               * (qa / CAST(ta AS DOUBLE) + qb / CAST(tb AS DOUBLE))
               - CAST(ta + tb AS DOUBLE), 6)
           > {KRUSKAL_CHI2_CRIT_05} AS significant
  FROM md_a
)
"""




# ---------------------------------------------------------------------------
# Jarque-Bera normality test (moment-based, exact raw power sums)
# ---------------------------------------------------------------------------

#: chi-square critical value at alpha=.05, df=2 (the JB reference).
JB_CHI2_CRIT_05 = 5.991




def jarque_bera_test(events: DataFrame) -> DataFrame:
    """Jarque-Bera NORMALITY test of purchase value — the question
    every parametric user of this engine's t/z/ANOVA family is
    implicitly assuming away: are the values even close to Gaussian?
    JB = n/6 * (skew^2 + kurtosis_excess^2/4) ~ chi2(2) under
    normality; heavy tails or asymmetry reject.

    ONE map-side-combinable hash-agg collects the exact raw power
    sums S1..S4 in DECIMAL(38,0)/HUGEINT (c^4 at 5-digit cents is
    ~6e18 per row — past BIGINT, inside DECIMAL up to ~1e15 rows);
    the central moments, g1, g2 and JB assemble from the single
    moment row in one mirrored double chain, rounded at 6 dp. The
    sample skewness/kurtosis themselves are emitted — the
    distribution-shape readout next to the robust quartile version
    (``events_quartile_skew``).

    Output (1 row): n, skewness, kurtosis_excess, jb_stat, normal.
    """
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    c = F.col("c")
    m = (
        events.filter(
            (F.col("event_type") == "purchase")
            & F.col("value").isNotNull()
        )
        .select(
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(dec(c)).alias("s1"),
            F.sum(dec(c) * dec(c)).alias("s2"),
            F.sum(dec(c) * dec(c) * dec(c)).alias("s3"),
            F.sum(dec(c) * dec(c) * dec(c) * dec(c)).alias("s4"),
        )
    )
    nd = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    m2 = r2 - mu * mu
    m3 = r3 - 3 * mu * r2 + 2 * mu * mu * mu
    m4 = r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu * mu * mu * mu
    g1 = m3 / F.sqrt(m2 * m2 * m2)
    g2 = m4 / (m2 * m2) - 3
    jb = nd / 6 * (g1 * g1 + g2 * g2 / 4)
    return m.select(
        "n",
        F.round(g1, 6).alias("skewness"),
        F.round(g2, 6).alias("kurtosis_excess"),
        F.round(jb, 6).alias("jb_stat"),
        (F.round(jb, 6) <= JB_CHI2_CRIT_05).alias("normal"),
    )




ORACLE_JARQUE_BERA = f"""
jb_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(c AS HUGEINT)) AS HUGEINT) AS s1,
         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2,
         CAST(sum(CAST(c AS HUGEINT) * c * c) AS HUGEINT) AS s3,
         CAST(sum(CAST(c AS HUGEINT) * c * c * c) AS HUGEINT) AS s4
  FROM (SELECT CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL)
),
jb_r AS (
  SELECT n, CAST(s1 AS DOUBLE) / n AS mu,
         CAST(s2 AS DOUBLE) / n AS r2,
         CAST(s3 AS DOUBLE) / n AS r3,
         CAST(s4 AS DOUBLE) / n AS r4
  FROM jb_m
),
jb_c AS (
  SELECT n, r2 - mu * mu AS m2,
         r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3,
         r4 - 4 * mu * r3 + 6 * mu * mu * r2
            - 3 * mu * mu * mu * mu AS m4
  FROM jb_r
),
jb_g AS (
  SELECT n, m3 / sqrt(m2 * m2 * m2) AS g1,
         m4 / (m2 * m2) - 3 AS g2
  FROM jb_c
),
jarque_bera AS (
  SELECT n, round(g1, 6) AS skewness,
         round(g2, 6) AS kurtosis_excess,
         round(CAST(n AS DOUBLE) / 6 * (g1 * g1 + g2 * g2 / 4), 6)
           AS jb_stat,
         round(CAST(n AS DOUBLE) / 6 * (g1 * g1 + g2 * g2 / 4), 6)
           <= {JB_CHI2_CRIT_05} AS normal
  FROM jb_g
)
"""




# ---------------------------------------------------------------------------
# Ansari-Bradley test (rank-based two-sample SCALE test)
# ---------------------------------------------------------------------------


def ansari_bradley(events: DataFrame) -> DataFrame:
    """Ansari-Bradley test: do purchase and click values differ in
    SPREAD (same-ish center assumed) — the rank-based scale test
    beside the parametric Hartley/Levene pair: each observation
    scores min(rank, N+1-rank) (extremes score low, the middle
    high), so a sample squeezed toward the center scores HIGH.

    EXACT INTEGER scores with the mid-rank convention: on the merged
    cent grain the doubled mid-rank 2r = 2*pre + cnt + 1 comes from
    the octave-bucket kernel (zero global windows, the KW shape) and
    the doubled score 2s = least(2r, 2*(N+1) - 2r) stays integer, so
    AB2 = sum cx*2s is an exact BIGINT. The no-tie null moments
    (parity-split closed forms: E = n(N+2)/4 / n(N+1)^2/(4N),
    Var = nm(N+2)(N-2)/(48(N-1)) / nm(N+1)(3+N^2)/(48N^2)) give the
    normal z — documented convention: mid-rank scores with the
    no-tie variance, conservative at cent grain where ties are a
    vanishing fraction.

    Output (1 row): n_x, n_y, ab2_score, z, scale_differs
    (|z| > 1.96).
    """
    ev = events.filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    ).select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        (F.col("event_type") == "purchase").alias("is_x"),
    )
    vg = ev.groupBy("c").agg(
        F.sum(F.when(F.col("is_x"), 1).otherwise(0)).alias("cx"),
        F.count("*").alias("cnt"),
    )
    pre = _rank.value_prefix(vg, ["cnt"], "c").select(
        "c", "cx", "cnt", F.col("_pre_cnt").alias("pre")
    )
    tot = vg.agg(
        F.sum("cnt").alias("nn"), F.sum("cx").alias("nx")
    )
    j = pre.crossJoin(F.broadcast(tot))
    r2 = 2 * F.col("pre") + F.col("cnt") + 1
    s2 = F.least(r2, 2 * (F.col("nn") + 1) - r2)
    m = j.groupBy("nn", "nx").agg(
        F.sum(F.col("cx") * s2).alias("ab2")
    )
    nd = F.col("nn").cast("double")
    xd = F.col("nx").cast("double")
    yd = nd - xd
    even = F.col("nn") % 2 == 0
    e_ab = F.when(even, xd * (nd + 2) / 4).otherwise(
        xd * (nd + 1) * (nd + 1) / (4 * nd)
    )
    v_ab = F.when(
        even,
        xd * yd * (nd + 2) * (nd - 2) / (48 * (nd - 1)),
    ).otherwise(
        xd * yd * (nd + 1) * (3 + nd * nd) / (48 * nd * nd)
    )
    z = (F.col("ab2").cast("double") / 2 - e_ab) / F.sqrt(v_ab)
    return m.select(
        F.col("nx").alias("n_x"),
        (F.col("nn") - F.col("nx")).alias("n_y"),
        F.col("ab2").alias("ab2_score"),
        F.round(z, 6).alias("z"),
        (F.abs(F.round(z, 6)) > 1.96).alias("scale_differs"),
    )




ORACLE_ANSARI = """
ab_v AS (
  SELECT c,
         CAST(sum(CASE WHEN is_x THEN 1 ELSE 0 END) AS BIGINT)
           AS cx,
         CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT CAST(round(value * 100, 0) AS BIGINT) AS c,
               event_type = 'purchase' AS is_x
        FROM events WHERE event_type IN ('purchase', 'click')
          AND value IS NOT NULL)
  GROUP BY 1
),
ab_p AS (
  SELECT c, cx, cnt,
         CAST(coalesce(sum(cnt) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS pre
  FROM ab_v
),
ab_t AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS nn,
         CAST(sum(cx) AS BIGINT) AS nx
  FROM ab_v
),
ab_m AS (
  SELECT nn, nx,
         CAST(sum(cx * least(2 * pre + cnt + 1,
                             2 * (nn + 1) - (2 * pre + cnt + 1)))
              AS BIGINT) AS ab2
  FROM ab_p, ab_t GROUP BY 1, 2
),
ansari_bradley AS (
  SELECT nx AS n_x, nn - nx AS n_y, ab2 AS ab2_score,
         round((CAST(ab2 AS DOUBLE) / 2
                - CASE WHEN nn % 2 = 0
                  THEN CAST(nx AS DOUBLE) * (CAST(nn AS DOUBLE) + 2)
                       / 4
                  ELSE CAST(nx AS DOUBLE) * (CAST(nn AS DOUBLE) + 1)
                       * (CAST(nn AS DOUBLE) + 1)
                       / (4 * CAST(nn AS DOUBLE)) END)
               / sqrt(CASE WHEN nn % 2 = 0
                  THEN CAST(nx AS DOUBLE)
                       * (CAST(nn AS DOUBLE) - CAST(nx AS DOUBLE))
                       * (CAST(nn AS DOUBLE) + 2)
                       * (CAST(nn AS DOUBLE) - 2)
                       / (48 * (CAST(nn AS DOUBLE) - 1))
                  ELSE CAST(nx AS DOUBLE)
                       * (CAST(nn AS DOUBLE) - CAST(nx AS DOUBLE))
                       * (CAST(nn AS DOUBLE) + 1)
                       * (3 + CAST(nn AS DOUBLE)
                          * CAST(nn AS DOUBLE))
                       / (48 * CAST(nn AS DOUBLE)
                          * CAST(nn AS DOUBLE)) END), 6) AS z,
         abs(round((CAST(ab2 AS DOUBLE) / 2
                - CASE WHEN nn % 2 = 0
                  THEN CAST(nx AS DOUBLE) * (CAST(nn AS DOUBLE) + 2)
                       / 4
                  ELSE CAST(nx AS DOUBLE) * (CAST(nn AS DOUBLE) + 1)
                       * (CAST(nn AS DOUBLE) + 1)
                       / (4 * CAST(nn AS DOUBLE)) END)
               / sqrt(CASE WHEN nn % 2 = 0
                  THEN CAST(nx AS DOUBLE)
                       * (CAST(nn AS DOUBLE) - CAST(nx AS DOUBLE))
                       * (CAST(nn AS DOUBLE) + 2)
                       * (CAST(nn AS DOUBLE) - 2)
                       / (48 * (CAST(nn AS DOUBLE) - 1))
                  ELSE CAST(nx AS DOUBLE)
                       * (CAST(nn AS DOUBLE) - CAST(nx AS DOUBLE))
                       * (CAST(nn AS DOUBLE) + 1)
                       * (3 + CAST(nn AS DOUBLE)
                          * CAST(nn AS DOUBLE))
                       / (48 * CAST(nn AS DOUBLE)
                          * CAST(nn AS DOUBLE)) END), 6)) > 1.96
           AS scale_differs
  FROM ab_m
)
"""




# ---------------------------------------------------------------------------
# partial correlation (clicks <-> purchases controlling for views)
# ---------------------------------------------------------------------------


def partial_correlation(events: DataFrame) -> DataFrame:
    """Partial correlation of daily click and purchase counts
    CONTROLLING for daily view volume — "do clicks drive purchases,
    or does overall traffic drive both": r_xy.z =
    (r_xy - r_xz*r_yz) / sqrt((1-r_xz^2)(1-r_yz^2)), the one-line
    deconfounder beside the raw pairwise ``events_type_corr`` and
    the lag picture in ``events_ccf``.

    All three pairwise Pearson correlations come from ONE day-grain
    pivot agg with exact BIGINT moment sums (n, Sx, Sy, Sz, all
    squares and cross-products — eleven integers); the three r's and
    the partial assemble in a mirrored double chain, rounded at 6 dp.
    Missing (day, type) cells are true zero counts via the dense
    conditional agg. Output (1 row): n_days, r_xy, r_xz, r_yz,
    r_partial, confounded (sign flip or |drop| > half).
    """
    d = (
        events.groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(
                (F.col("event_type") == "click").cast("bigint")
            ).alias("x"),
            F.sum(
                (F.col("event_type") == "purchase").cast("bigint")
            ).alias("y"),
            F.sum(
                (F.col("event_type") == "view").cast("bigint")
            ).alias("z"),
        )
    )
    m = d.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("y") * F.col("z")).alias("syz"),
    )
    nd = F.col("n").cast("double")

    def _r(sab, sa, sb, saa, sbb) -> F.Column:
        num = nd * F.col(sab).cast("double") - F.col(sa).cast(
            "double"
        ) * F.col(sb).cast("double")
        da = nd * F.col(saa).cast("double") - F.col(sa).cast(
            "double"
        ) * F.col(sa).cast("double")
        db = nd * F.col(sbb).cast("double") - F.col(sb).cast(
            "double"
        ) * F.col(sb).cast("double")
        return num / F.sqrt(da * db)

    rxy = _r("sxy", "sx", "sy", "sxx", "syy")
    rxz = _r("sxz", "sx", "sz", "sxx", "szz")
    ryz = _r("syz", "sy", "sz", "syy", "szz")
    rp = (rxy - rxz * ryz) / F.sqrt(
        (1 - rxz * rxz) * (1 - ryz * ryz)
    )
    conf = (F.round(rp, 6) * F.round(rxy, 6) < 0) | (
        F.abs(F.round(rp, 6)) < F.abs(F.round(rxy, 6)) / 2
    )
    return m.select(
        F.col("n").alias("n_days"),
        F.round(rxy, 6).alias("r_xy"),
        F.round(rxz, 6).alias("r_xz"),
        F.round(ryz, 6).alias("r_yz"),
        F.round(rp, 6).alias("r_partial"),
        conf.alias("confounded"),
    )




ORACLE_PARTIAL_CORR = """
pc_d AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                  END) AS BIGINT) AS y,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS z
  FROM events GROUP BY 1
),
pc_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(z) AS BIGINT) AS sz,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(z * z) AS BIGINT) AS szz,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * z) AS BIGINT) AS sxz,
         CAST(sum(y * z) AS BIGINT) AS syz
  FROM pc_d
),
pc_r AS (
  SELECT n,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / sqrt((CAST(n AS DOUBLE) * sxx
                 - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy
                   - CAST(sy AS DOUBLE) * sy)) AS rxy,
         (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
         / sqrt((CAST(n AS DOUBLE) * sxx
                 - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * szz
                   - CAST(sz AS DOUBLE) * sz)) AS rxz,
         (CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
         / sqrt((CAST(n AS DOUBLE) * syy
                 - CAST(sy AS DOUBLE) * sy)
                * (CAST(n AS DOUBLE) * szz
                   - CAST(sz AS DOUBLE) * sz)) AS ryz
  FROM pc_m
),
partial_correlation AS (
  SELECT n AS n_days, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
         round(ryz, 6) AS r_yz,
         round((rxy - rxz * ryz)
               / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
           AS r_partial,
         (round((rxy - rxz * ryz)
                / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
          * round(rxy, 6) < 0)
         OR (abs(round((rxy - rxz * ryz)
                / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6))
             < abs(round(rxy, 6)) / 2) AS confounded
  FROM pc_r
)
"""




# ---------------------------------------------------------------------------
# Brown-Forsythe median-based variance homogeneity (round 7)
# ---------------------------------------------------------------------------


def brown_forsythe(events: DataFrame) -> DataFrame:
    """Brown-Forsythe test: Levene's ANOVA-on-deviations with the
    deviations taken from each group's MEDIAN instead of its mean —
    the recommended default when groups are skewed or heavy-tailed
    (the mean-based W in ``events_levene`` loses level control
    there). Completes the scale-test ladder: Levene (mean),
    Brown-Forsythe (median), Ansari-Bradley (ranks).

    Each group's median is the EXACT order statistic under the same
    upper-median convention as ``events_mood_median``, selected by
    PER-GROUP octave-bucket prefix sums (offsets ride a bucket-grain
    partitioned window <= 48 rows per group; within-octave prefixes a
    (group, octave)-partitioned window — zero global windows). The
    deviations z = |c - med_g| are then plain BIGINTs, so the group
    moments are exact and the F statistic assembles from the k=5
    moment rows in one mirrored double chain.

    Two corpus passes (value-grain agg; deviation agg against the
    broadcast 5-row median frame). Output (1 row): k, n, ssb, ssw,
    f_stat, homogeneous.
    """
    cg = events.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )
    vg = cg.groupBy("event_type", "c").agg(F.count("*").alias("cnt"))
    cum = _rank.value_prefix(
        vg, ["cnt"], "c", inclusive=True, group_cols=("event_type",)
    ).select("event_type", "c", F.col("_pre_cnt").alias("cum"))
    ng = vg.groupBy("event_type").agg(F.sum("cnt").alias("ng"))
    med = (
        cum.join(ng, "event_type")
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= (F.col("ng") + 1) / 2, F.col("c")
                )
            ).alias("med")
        )
    )
    gm = (
        cg.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            F.abs(F.col("c") - F.col("med")).alias("z"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("ng"),
            F.sum("z").alias("sg"),
            F.sum(F.col("z") * F.col("z")).alias("qg"),
        )
    )
    m = gm.agg(
        F.count("*").alias("k"),
        F.sum("ng").alias("n"),
        F.sum(
            F.col("sg").cast("double")
            * F.col("sg").cast("double")
            / F.col("ng").cast("double")
        ).alias("t1"),
        F.sum(F.col("sg").cast("double")).alias("ts"),
        F.sum(F.col("qg").cast("double")).alias("t2"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    ssb = F.col("t1") - F.col("ts") * F.col("ts") / nd
    ssw = F.col("t2") - F.col("t1")
    f = (ssb / (kd - 1)) / (ssw / (nd - kd))
    return m.select(
        "k",
        "n",
        F.round(ssb, 4).alias("ssb"),
        F.round(ssw, 4).alias("ssw"),
        F.round(f, 6).alias("f_stat"),
        (F.round(f, 6) <= ANOVA_F_CRIT_05).alias("homogeneous"),
    )




ORACLE_BROWN_FORSYTHE = f"""
bf_c AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
),
bf_v AS (
  SELECT event_type, c, CAST(count(*) AS BIGINT) AS cnt
  FROM bf_c GROUP BY 1, 2
),
bf_cum AS (
  SELECT event_type, c,
         CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum
  FROM bf_v
),
bf_ng AS (
  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS ng
  FROM bf_v GROUP BY 1
),
bf_med AS (
  SELECT m.event_type,
         min(CASE WHEN m.cum >= (g.ng + 1) / 2 THEN m.c END) AS med
  FROM bf_cum m JOIN bf_ng g ON m.event_type = g.event_type
  GROUP BY 1
),
bf_gm AS (
  SELECT c.event_type, CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(abs(c.c - m.med)) AS BIGINT) AS sg,
         CAST(sum(CAST(abs(c.c - m.med) AS HUGEINT)
                  * abs(c.c - m.med)) AS HUGEINT) AS qg
  FROM bf_c c JOIN bf_med m ON c.event_type = m.event_type
  GROUP BY 1
),
bf_m AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(ng) AS BIGINT) AS n,
         sum(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
             / CAST(ng AS DOUBLE)) AS t1,
         sum(CAST(sg AS DOUBLE)) AS ts,
         sum(CAST(qg AS DOUBLE)) AS t2
  FROM bf_gm
),
brown_forsythe AS (
  SELECT k, n,
         round(t1 - ts * ts / CAST(n AS DOUBLE), 4) AS ssb,
         round(t2 - t1, 4) AS ssw,
         round(((t1 - ts * ts / CAST(n AS DOUBLE))
                / (CAST(k AS DOUBLE) - 1))
               / ((t2 - t1) / (CAST(n AS DOUBLE)
                               - CAST(k AS DOUBLE))), 6) AS f_stat,
         round(((t1 - ts * ts / CAST(n AS DOUBLE))
                / (CAST(k AS DOUBLE) - 1))
               / ((t2 - t1) / (CAST(n AS DOUBLE)
                               - CAST(k AS DOUBLE))), 6)
           <= {ANOVA_F_CRIT_05} AS homogeneous
  FROM bf_m
)
"""




# ---------------------------------------------------------------------------
# Cliff's delta ordinal effect size (round 7)
# ---------------------------------------------------------------------------

#: Romano et al. magnitude bands on |delta|.
CLIFFS_NEGLIGIBLE = 0.147


CLIFFS_SMALL = 0.33


CLIFFS_MEDIUM = 0.474




def cliffs_delta(events: DataFrame) -> DataFrame:
    """Cliff's delta between purchase and click event values:
    delta = (#(x>y) - #(x<y)) / (n1*n2) — the ordinal,
    distribution-free effect size that complements Cohen's d
    (``events_effect_size``: means can be dominated by whales) and
    the Mann-Whitney z (significance, not magnitude).

    All three pair counts are EXACT integers from one pass of the
    octave-bucket prefix kernel (``ranking.value_prefix``): on the cent
    grain, #(x>y) = sum c1(v) * (#y strictly below v), ties =
    sum c1(v)*c2(v), #(x<y) = n1*n2 - gt - ties — no pair join, no
    global window. Only the final delta divides, rounded 6 dp; the
    magnitude label reads the ROUNDED delta (the JSD guard
    convention).

    Output (1 row): n1, n2, n_gt, n_lt, n_tie, delta, magnitude.
    """
    cg = events.filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "click")
    ).select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        (F.col("event_type") == "purchase").alias("is_x"),
    )
    vg = cg.groupBy("c").agg(
        F.sum(F.when(F.col("is_x"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("is_x"), 0).otherwise(1)).alias("c2"),
    )
    pre = _rank.value_prefix(vg, ["c2"], "c", inclusive=False)
    agg = pre.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(F.col("c1") * F.col("_pre_c2")).alias("n_gt"),
        F.sum(F.col("c1") * F.col("c2")).alias("n_tie"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    lt = n1 * n2 - F.col("n_gt") - F.col("n_tie")
    delta = F.round(
        (F.col("n_gt") - lt).cast("double")
        / (n1 * n2).cast("double"),
        6,
    )
    mag = (
        F.when(F.abs(delta) < CLIFFS_NEGLIGIBLE, "negligible")
        .when(F.abs(delta) < CLIFFS_SMALL, "small")
        .when(F.abs(delta) < CLIFFS_MEDIUM, "medium")
        .otherwise("large")
    )
    return agg.select(
        "n1",
        "n2",
        "n_gt",
        lt.alias("n_lt"),
        "n_tie",
        delta.alias("delta"),
        mag.alias("magnitude"),
    )




ORACLE_CLIFFS_DELTA = f"""
cd_c AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS c,
         event_type = 'purchase' AS is_x
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
),
cd_v AS (
  SELECT c,
         CAST(sum(CASE WHEN is_x THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN is_x THEN 0 ELSE 1 END) AS BIGINT) AS c2
  FROM cd_c GROUP BY 1
),
cd_p AS (
  SELECT c1, c2,
         CAST(coalesce(sum(c2) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS pre_c2
  FROM cd_v
),
cd_a AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c2) AS BIGINT) AS n2,
         CAST(sum(c1 * pre_c2) AS BIGINT) AS n_gt,
         CAST(sum(c1 * c2) AS BIGINT) AS n_tie
  FROM cd_p
),
cliffs_delta AS (
  SELECT n1, n2, n_gt,
         n1 * n2 - n_gt - n_tie AS n_lt,
         n_tie,
         round(CAST(n_gt - (n1 * n2 - n_gt - n_tie) AS DOUBLE)
               / CAST(n1 * n2 AS DOUBLE), 6) AS delta,
         CASE WHEN abs(round(CAST(n_gt - (n1 * n2 - n_gt - n_tie)
                    AS DOUBLE) / CAST(n1 * n2 AS DOUBLE), 6))
                   < {CLIFFS_NEGLIGIBLE} THEN 'negligible'
              WHEN abs(round(CAST(n_gt - (n1 * n2 - n_gt - n_tie)
                    AS DOUBLE) / CAST(n1 * n2 AS DOUBLE), 6))
                   < {CLIFFS_SMALL} THEN 'small'
              WHEN abs(round(CAST(n_gt - (n1 * n2 - n_gt - n_tie)
                    AS DOUBLE) / CAST(n1 * n2 AS DOUBLE), 6))
                   < {CLIFFS_MEDIUM} THEN 'medium'
              ELSE 'large' END AS magnitude
  FROM cd_a
)
"""




# ---------------------------------------------------------------------------
# Cochran's Q for k related binary treatments (round 7)
# ---------------------------------------------------------------------------


def cochran_q(events: DataFrame) -> DataFrame:
    """Cochran's Q over the user x event-type INCIDENCE matrix (did
    user u ever emit type t): do the k event types differ in reach —
    the k-treatment generalization of McNemar (``events_mcnemar``)
    for matched binary outcomes, the presence/absence complement to
    the magnitude ladder (ANOVA/KW on values).

    Exact integer algebra end to end: with column totals C_t, row
    totals R_u and N = sum C_t, Q = (k-1) * sum_t (k*C_t - N)^2 /
    (k * (k*N - sum_u R_u^2)) — the k-scaled form that never builds
    the rational N/k. All-zero and all-one rows are provably
    Q-neutral (they shift every C_t and N together), so no row
    filtering convention is needed.

    Scale: one distinct-pair hash-agg (user, type), then user-grain
    and type-grain rollups — k is the type domain, so the final
    assembly is a k-row fold. Output (1 row): k, n_users,
    n_incidences, q_stat, significant (chi2 df=4 at .05 — the
    fixture's k=5 convention, same literal as the KW test).
    """
    inc = events.select("user_id", "event_type").distinct()
    ct = inc.groupBy("event_type").agg(F.count("*").alias("c"))
    ru = inc.groupBy("user_id").agg(F.count("*").alias("r"))
    rtot = ru.agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("r") * F.col("r")).alias("r2"),
    )
    m = (
        ct.agg(
            F.count("*").alias("k"),
            F.sum("c").alias("nn"),
            F.collect_list("c").alias("cs"),
        )
        .crossJoin(F.broadcast(rtot))
    )
    num = (F.col("k") - 1) * F.aggregate(
        "cs",
        F.lit(0).cast("bigint"),
        lambda acc, c: acc
        + (F.col("k") * c - F.col("nn"))
        * (F.col("k") * c - F.col("nn")),
    )
    den = F.col("k") * (F.col("k") * F.col("nn") - F.col("r2"))
    q = F.when(
        den != 0,
        F.round(num.cast("double") / den.cast("double"), 6),
    )
    return m.select(
        "k",
        "n_users",
        F.col("nn").alias("n_incidences"),
        q.alias("q_stat"),
        (q > KRUSKAL_CHI2_CRIT_05).alias("significant"),
    )




ORACLE_COCHRAN_Q = f"""
cq_inc AS (
  SELECT DISTINCT user_id, event_type FROM events
),
cq_ct AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS c
  FROM cq_inc GROUP BY 1
),
cq_ru AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(r * r) AS BIGINT) AS r2
  FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS r
        FROM cq_inc GROUP BY 1)
),
cq_m AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(c) AS BIGINT) AS nn
  FROM cq_ct
),
cq_num AS (
  SELECT (m.k - 1)
         * CAST(sum((m.k * t.c - m.nn) * (m.k * t.c - m.nn))
                AS BIGINT) AS num
  FROM cq_ct t, cq_m m GROUP BY m.k, m.nn
),
cochran_q AS (
  SELECT m.k, u.n_users, m.nn AS n_incidences,
         CASE WHEN m.k * (m.k * m.nn - u.r2) <> 0 THEN
           round(CAST(n.num AS DOUBLE)
                 / CAST(m.k * (m.k * m.nn - u.r2) AS DOUBLE), 6)
         END AS q_stat,
         CASE WHEN m.k * (m.k * m.nn - u.r2) <> 0 THEN
           round(CAST(n.num AS DOUBLE)
                 / CAST(m.k * (m.k * m.nn - u.r2) AS DOUBLE), 6)
         END > {KRUSKAL_CHI2_CRIT_05} AS significant
  FROM cq_m m, cq_ru u, cq_num n
)
"""




# ---------------------------------------------------------------------------
# Bartlett variance-homogeneity test (round 7)
# ---------------------------------------------------------------------------


def bartlett_test(events: DataFrame) -> DataFrame:
    """Bartlett's test for equal variances across event types — the
    NORMAL-THEORY member of the scale ladder (most powerful under
    normality, notoriously sensitive to heavy tails; Levene and
    Brown-Forsythe are its robust fallbacks, and all three shipping
    together is exactly how a practitioner triangulates):
    T = [(N-k) ln(Sp^2) - sum (n_i-1) ln(S_i^2)] / C with the
    Bartlett small-sample correction C.

    Per-group moments (n_i, sum c, sum c^2) are exact DECIMAL/BIGINT
    from ONE hash-agg; the unbiased variances, lns and the k-row
    assembly are one mirrored double chain (ln evaluated on
    identical doubles in both engines), rounded 6 dp. Groups with
    n_i < 2 or zero variance are excluded from the statistic (ln(0)
    guard), with the count emitted.

    Output (1 row): k_used, n, t_stat, significant (chi2 df=4 at
    .05 — the fixture-k convention of the ladder).
    """
    g = (
        events.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("ng"),
            F.sum("c").alias("sg"),
            F.sum(
                F.col("c").cast("decimal(38,0)")
                * F.col("c").cast("decimal(38,0)")
            ).alias("qg"),
        )
    )
    ngd = F.col("ng").cast("double")
    var = (
        ngd * F.col("qg").cast("double")
        - F.col("sg").cast("double") * F.col("sg").cast("double")
    ) / (ngd * (ngd - 1))
    gv = g.select("ng", var.alias("v")).filter(
        (F.col("ng") >= 2) & (F.col("v") > 0)
    )
    m = gv.agg(
        F.count("*").alias("k"),
        F.sum("ng").alias("n"),
        F.sum((F.col("ng") - 1).cast("double") * F.col("v")).alias(
            "sv"
        ),
        F.sum(
            (F.col("ng") - 1).cast("double") * F.log("v")
        ).alias("slv"),
        F.sum(1.0 / (F.col("ng") - 1).cast("double")).alias("sinv"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    nk = nd - kd
    sp2 = F.col("sv") / nk
    c = 1 + (F.col("sinv") - 1 / nk) / (3 * (kd - 1))
    t = F.round((nk * F.log(sp2) - F.col("slv")) / c, 6)
    return m.select(
        F.col("k").alias("k_used"),
        "n",
        t.alias("t_stat"),
        (t > KRUSKAL_CHI2_CRIT_05).alias("significant"),
    )




ORACLE_BARTLETT = f"""
bt_g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(c) AS BIGINT) AS sg,
         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS qg
  FROM (SELECT event_type,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL)
  GROUP BY 1
),
bt_v AS (
  SELECT ng,
         (CAST(ng AS DOUBLE) * CAST(qg AS DOUBLE)
          - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
         / (CAST(ng AS DOUBLE) * (CAST(ng AS DOUBLE) - 1)) AS v
  FROM bt_g
),
bt_m AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(ng) AS BIGINT) AS n,
         sum((CAST(ng AS DOUBLE) - 1) * v) AS sv,
         sum((CAST(ng AS DOUBLE) - 1) * ln(v)) AS slv,
         sum(1.0 / (CAST(ng AS DOUBLE) - 1)) AS sinv
  FROM bt_v WHERE ng >= 2 AND v > 0
),
bartlett_test AS (
  SELECT k AS k_used, n,
         round(((CAST(n AS DOUBLE) - k)
                * ln(sv / (CAST(n AS DOUBLE) - k)) - slv)
               / (1 + (sinv - 1 / (CAST(n AS DOUBLE) - k))
                      / (3 * (CAST(k AS DOUBLE) - 1))), 6) AS t_stat,
         round(((CAST(n AS DOUBLE) - k)
                * ln(sv / (CAST(n AS DOUBLE) - k)) - slv)
               / (1 + (sinv - 1 / (CAST(n AS DOUBLE) - k))
                      / (3 * (CAST(k AS DOUBLE) - 1))), 6)
           > {KRUSKAL_CHI2_CRIT_05} AS significant
  FROM bt_m
)
"""




# ---------------------------------------------------------------------------
# Welch heteroscedastic one-way ANOVA (round 7)
# ---------------------------------------------------------------------------


def welch_anova(events: DataFrame) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA of event value across
    types: the location test that does NOT assume equal variances —
    the partner the scale ladder (Levene/Brown-Forsythe/Bartlett)
    points you to when it rejects homogeneity and the classic F
    (``events_anova``) loses its level. Weights w_i = n_i/s_i^2;
    F* = [sum w_i (m_i - m_w)^2 / (k-1)] /
    [1 + 2(k-2)/(k^2-1) * sum (1-w_i/W)^2/(n_i-1)].

    Same exact-integer group moments as the ANOVA (one hash-agg);
    means/variances/weights are a mirrored k-row double chain,
    rounded 6 dp. Groups need n_i >= 2 and s_i^2 > 0 (excluded
    otherwise, count emitted). The critical value is the ladder's
    fixed df1=4 literal (Welch df2 is large at any fixture scale).

    Output (1 row): k_used, n, f_stat, significant.
    """
    g = (
        events.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("ng"),
            F.sum("c").alias("sg"),
            F.sum(
                F.col("c").cast("decimal(38,0)")
                * F.col("c").cast("decimal(38,0)")
            ).alias("qg"),
        )
    )
    ngd = F.col("ng").cast("double")
    mean = F.col("sg").cast("double") / ngd
    var = (
        ngd * F.col("qg").cast("double")
        - F.col("sg").cast("double") * F.col("sg").cast("double")
    ) / (ngd * (ngd - 1))
    gv = g.select("ng", mean.alias("m"), var.alias("v")).filter(
        (F.col("ng") >= 2) & (F.col("v") > 0)
    ).withColumn("w", F.col("ng").cast("double") / F.col("v"))
    m = gv.agg(
        F.count("*").alias("k"),
        F.sum("ng").alias("n"),
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("m")).alias("swm"),
        F.sum(F.col("w") * F.col("m") * F.col("m")).alias("swm2"),
        F.sum(
            F.col("w") * F.col("w") / (F.col("ng") - 1).cast("double")
        ).alias("sww"),
        F.sum(F.col("w") / (F.col("ng") - 1).cast("double")).alias(
            "swn"
        ),
        F.sum(1.0 / (F.col("ng") - 1).cast("double")).alias("sinv"),
    )
    kd = F.col("k").cast("double")
    # sum (1 - w_i/W)^2/(n_i-1) expands to sinv - 2*swn/W + sww/W^2
    lam = (
        F.col("sinv")
        - 2 * F.col("swn") / F.col("sw")
        + F.col("sww") / (F.col("sw") * F.col("sw"))
    )
    # sum w_i (m_i - m_w)^2 = swm2 - swm^2/W
    num = (
        F.col("swm2") - F.col("swm") * F.col("swm") / F.col("sw")
    ) / (kd - 1)
    den = 1 + 2 * (kd - 2) / (kd * kd - 1) * lam
    f = F.round(num / den, 6)
    return m.select(
        F.col("k").alias("k_used"),
        "n",
        f.alias("f_stat"),
        (f > ANOVA_F_CRIT_05).alias("significant"),
    )




ORACLE_WELCH_ANOVA = f"""
wa_g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(c) AS BIGINT) AS sg,
         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS qg
  FROM (SELECT event_type,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL)
  GROUP BY 1
),
wa_v AS (
  SELECT ng,
         CAST(sg AS DOUBLE) / ng AS m,
         (CAST(ng AS DOUBLE) * CAST(qg AS DOUBLE)
          - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
         / (CAST(ng AS DOUBLE) * (CAST(ng AS DOUBLE) - 1)) AS v
  FROM wa_g
),
wa_w AS (
  SELECT ng, m, v, CAST(ng AS DOUBLE) / v AS w
  FROM wa_v WHERE ng >= 2 AND v > 0
),
wa_m AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(ng) AS BIGINT) AS n,
         sum(w) AS sw,
         sum(w * m) AS swm,
         sum(w * m * m) AS swm2,
         sum(w * w / (CAST(ng AS DOUBLE) - 1)) AS sww,
         sum(w / (CAST(ng AS DOUBLE) - 1)) AS swn,
         sum(1.0 / (CAST(ng AS DOUBLE) - 1)) AS sinv
  FROM wa_w
),
welch_anova AS (
  SELECT k AS k_used, n,
         round(((swm2 - swm * swm / sw) / (CAST(k AS DOUBLE) - 1))
               / (1 + 2 * (CAST(k AS DOUBLE) - 2)
                      / (CAST(k AS DOUBLE) * k - 1)
                      * (sinv - 2 * swn / sw + sww / (sw * sw))), 6)
           AS f_stat,
         round(((swm2 - swm * swm / sw) / (CAST(k AS DOUBLE) - 1))
               / (1 + 2 * (CAST(k AS DOUBLE) - 2)
                      / (CAST(k AS DOUBLE) * k - 1)
                      * (sinv - 2 * swn / sw + sww / (sw * sw))), 6)
           > {ANOVA_F_CRIT_05} AS significant
  FROM wa_m
)
"""




# ---------------------------------------------------------------------------
# circular statistics: Rayleigh uniformity of purchase hour (round 7)
# ---------------------------------------------------------------------------


def rayleigh_hour(events: DataFrame) -> DataFrame:
    """Circular statistics of the purchase HOUR-OF-DAY: mean
    direction (peak hour), resultant length R-bar, and the Rayleigh
    uniformity test z = n*R-bar^2 — the correct way to average a
    clock (the linear mean of {23h, 1h} is noon; the circular mean
    is midnight), and the formal "is there a daily rhythm at all"
    gate under the seasonality ladder.

    The corpus collapses to 24 exact hour counts in one hash-agg;
    C = sum n_h cos(2*pi*h/24) and S = ... sin(...) then fold over
    the PACKED hour-sorted array (one sequential executor fold —
    same-IEEE additions in both engines, the record-days protocol),
    so the only doubles are 24 identical cos/sin terms in identical
    order. p ~ exp(-z) (large-n Rayleigh); the flag compares the
    6-dp ROUNDED p to 0.05.

    Output (1 row): n, mean_hour, r_bar, z_stat, p_approx,
    nonuniform.
    """
    hc = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.hour("ts").alias("h"))
        .agg(F.count("*").alias("c"))
    )
    packed = hc.agg(
        F.sort_array(F.collect_list(F.struct("h", "c"))).alias("s")
    )
    m = packed.select(
        F.expr(
            "aggregate(s, cast(0 as bigint), (a, x) -> a + x.c)"
        ).alias("n"),
        F.expr(
            "aggregate(s, cast(0.0 as double),"
            " (a, x) -> a + x.c * cos(2 * pi() * x.h / 24))"
        ).alias("cc"),
        F.expr(
            "aggregate(s, cast(0.0 as double),"
            " (a, x) -> a + x.c * sin(2 * pi() * x.h / 24))"
        ).alias("ss"),
    )
    nd = F.col("n").cast("double")
    rbar = F.sqrt(
        F.col("cc") * F.col("cc") + F.col("ss") * F.col("ss")
    ) / nd
    mean_hour = (
        (F.atan2(F.col("ss"), F.col("cc")) / (2 * F.lit(3.141592653589793)))
        * 24 + 24
    ) % 24
    z = nd * rbar * rbar
    p = F.round(F.exp(-z), 6)
    return m.select(
        "n",
        F.round(mean_hour, 4).alias("mean_hour"),
        F.round(rbar, 6).alias("r_bar"),
        F.round(z, 6).alias("z_stat"),
        p.alias("p_approx"),
        (p < 0.05).alias("nonuniform"),
    )




ORACLE_RAYLEIGH = """
ry_h AS (
  SELECT hour(ts) AS h, CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
ry_p AS (
  SELECT list({'h': h, 'c': c} ORDER BY h) AS s FROM ry_h
),
ry_m AS (
  SELECT list_aggregate(list_transform(s, x -> x.c), 'sum') AS n,
         list_aggregate(list_transform(s,
           x -> x.c * cos(2 * pi() * x.h / 24)), 'sum') AS cc,
         list_aggregate(list_transform(s,
           x -> x.c * sin(2 * pi() * x.h / 24)), 'sum') AS ss
  FROM ry_p
),
rayleigh_hour AS (
  SELECT CAST(n AS BIGINT) AS n,
         round(((atan2(ss, cc) / (2 * 3.141592653589793)) * 24
                % 24 + 24) % 24, 4) AS mean_hour,
         round(sqrt(cc * cc + ss * ss) / n, 6) AS r_bar,
         round(n * (sqrt(cc * cc + ss * ss) / n)
                 * (sqrt(cc * cc + ss * ss) / n), 6) AS z_stat,
         round(exp(-(n * (sqrt(cc * cc + ss * ss) / n)
                     * (sqrt(cc * cc + ss * ss) / n))), 6)
           AS p_approx,
         round(exp(-(n * (sqrt(cc * cc + ss * ss) / n)
                     * (sqrt(cc * cc + ss * ss) / n))), 6) < 0.05
           AS nonuniform
  FROM ry_m
)
"""




# ---------------------------------------------------------------------------
# Cramer-von Mises two-sample test (round 7)
# ---------------------------------------------------------------------------

#: asymptotic 5% critical value of the two-sample CvM T statistic.
CVM_CRIT_05 = 0.461




def cramer_von_mises(events: DataFrame) -> DataFrame:
    """Two-sample Cramer-von Mises test, purchase vs click values:
    T = nm/N^2 * sum over pooled points of (F_n - G_m)^2 — the
    INTEGRATED-distance member of the two-sample family (KS reads
    the single worst gap; CvM accumulates every gap, so it sees
    broad shape differences KS's sup misses; energy/AD weight the
    tails differently).

    FULLY exact integer core: with per-value counts a, b, inclusive
    cumulatives A, B (the octave prefix kernel) and z = a + b,
    T = sum_v z*(m*A - n*B)^2 / (n*m*N^2) — the numerator sum is one
    DECIMAL(38,0) hash-agg (envelope: z*(mA)^2 <= N*(nm)^2 ~ 1e38 at
    n,m ~ 5e7 pooled cent-grain rows; beyond that, pre-aggregate the
    value grain coarser), and T divides ONCE, rounded 6 dp.

    Output (1 row): n1, n2, t_stat, significant (T > 0.461, the
    asymptotic 5% point).
    """
    cg = events.filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "click")
    ).select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        (F.col("event_type") == "purchase").alias("is_x"),
    )
    vg = cg.groupBy("c").agg(
        F.sum(F.when(F.col("is_x"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("is_x"), 0).otherwise(1)).alias("b"),
    )
    pre = _rank.value_prefix(vg, ["a", "b"], "c", inclusive=True)
    tot = vg.agg(F.sum("a").alias("n"), F.sum("b").alias("m"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    j = pre.crossJoin(F.broadcast(tot))
    term = dec(F.col("a") + F.col("b")) * (
        dec(F.col("m")) * dec(F.col("_pre_a"))
        - dec(F.col("n")) * dec(F.col("_pre_b"))
    ) * (
        dec(F.col("m")) * dec(F.col("_pre_a"))
        - dec(F.col("n")) * dec(F.col("_pre_b"))
    )
    agg = j.groupBy("n", "m").agg(F.sum(term).alias("s"))
    nd, md = F.col("n").cast("double"), F.col("m").cast("double")
    nn = nd + md
    t = F.round(
        F.col("s").cast("double") / (nd * md * nn * nn), 6
    )
    return agg.select(
        F.col("n").alias("n1"),
        F.col("m").alias("n2"),
        t.alias("t_stat"),
        (t > CVM_CRIT_05).alias("significant"),
    )




ORACLE_CVM = f"""
cv_c AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS c,
         event_type = 'purchase' AS is_x
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
),
cv_v AS (
  SELECT c,
         CAST(sum(CASE WHEN is_x THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN is_x THEN 0 ELSE 1 END) AS BIGINT) AS b
  FROM cv_c GROUP BY 1
),
cv_p AS (
  SELECT a, b,
         CAST(sum(a) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS ca,
         CAST(sum(b) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cb
  FROM cv_v
),
cv_t AS (
  SELECT CAST(sum(a) AS BIGINT) AS n, CAST(sum(b) AS BIGINT) AS m
  FROM cv_v
),
cv_s AS (
  SELECT t.n, t.m,
         CAST(sum(CAST(p.a + p.b AS HUGEINT)
              * (t.m * CAST(p.ca AS HUGEINT) - t.n * p.cb)
              * (t.m * CAST(p.ca AS HUGEINT) - t.n * p.cb))
              AS HUGEINT) AS s
  FROM cv_p p, cv_t t GROUP BY 1, 2
),
cramer_von_mises AS (
  SELECT n AS n1, m AS n2,
         round(CAST(s AS DOUBLE)
               / (CAST(n AS DOUBLE) * m * (n + m) * (n + m)), 6)
           AS t_stat,
         round(CAST(s AS DOUBLE)
               / (CAST(n AS DOUBLE) * m * (n + m) * (n + m)), 6)
           > {CVM_CRIT_05} AS significant
  FROM cv_s
)
"""




# ---------------------------------------------------------------------------
# Anderson-Darling two-sample test (round 7)
# ---------------------------------------------------------------------------

#: asymptotic 5% point of the standardized AD k-sample statistic
#: (Scholz-Stephens T_kN table, k=2 -> df m=1): 1.960.
AD_CRIT_05 = 1.960



#: harmonic-number evaluation switch: exact ascending fold up to this
#: pooled size, Euler-Maclaurin closed form beyond (EM error < 1e-14
#: at the cap — eleven orders under the 6-dp rounding; both engines
#: branch on the same literal, so the doubles agree either way).
AD_HARMONIC_FOLD_CAP = 512


_EULER_GAMMA = 0.5772156649015329


_PI2_OVER_6 = 1.6449340668482264




def anderson_darling_2s(events: DataFrame) -> DataFrame:
    """Two-sample Anderson-Darling test (Scholz-Stephens A2akN,
    ties-adjusted midrank version), purchase vs click values — the
    TAIL-WEIGHTED member of the two-sample family: the 1/(H(1-H))
    weight makes AD the most sensitive of KS/CvM/AD to differences
    in the distribution tails, which is where revenue distributions
    actually differ.

    Integer core via the octave prefix kernel: per pooled distinct
    value, the DOUBLED midrank cumulatives 2B = 2*cum - z and
    2Ba = 2*cuma - a are exact BIGINTs; each value's term
    z*(N*2Ba - n*2B)^2 / (2B*(2N - 2B) - N*z) is then ONE division
    (numerator DECIMAL-exact), and the sum over the value grain is
    a double fold whose addends are O(N) — fold-order noise ~1e-12
    relative against the 6-dp rounding (the AR2 protocol, noted in
    code). Standardized against the Scholz-Stephens variance with
    H/h/g evaluated by the same packed harmonic folds as the
    record-days test.

    Output (1 row): n1, n2, a2_stat, t_std, significant
    (T > 1.960).
    """
    cg = events.filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "click")
    ).select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        (F.col("event_type") == "purchase").alias("is_x"),
    )
    vg = cg.groupBy("c").agg(
        F.sum(F.when(F.col("is_x"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("is_x"), 0).otherwise(1)).alias("b"),
    ).withColumn("z", F.col("a") + F.col("b"))
    pre = _rank.value_prefix(vg, ["a", "z"], "c", inclusive=True)
    tot = vg.agg(
        F.sum("a").alias("n"),
        F.sum("b").alias("m"),
        F.sum("z").alias("nn"),
    )
    j = pre.crossJoin(F.broadcast(tot))
    # doubled midrank cumulatives (exact integers)
    b2 = 2 * F.col("_pre_z") - F.col("z")
    ba2 = 2 * F.col("_pre_a") - F.col("a")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = (
        dec(F.col("nn")) * dec(ba2) - dec(F.col("n")) * dec(b2)
    )
    den = dec(b2) * dec(2 * F.col("nn") - b2) - dec(
        F.col("nn")
    ) * dec(F.col("z"))
    term = F.when(
        den != 0,
        (dec(F.col("z")) * num * num).cast("double")
        / den.cast("double"),
    ).otherwise(F.lit(0.0))
    agg = j.groupBy("n", "m", "nn").agg(F.sum(term).alias("s"))
    nd = F.col("nn").cast("double")
    hcap = (
        1.0 / F.col("n").cast("double")
        + 1.0 / F.col("m").cast("double")
    )
    # doubled-cumulative scaling cancels: (N*2Ba - n*2B)^2 =
    # 4*(N*Ba - n*B)^2 and den(2B) = 4*(B(N-B) - N*z/4). For k=2 the
    # two samples' inner sums are IDENTICAL ((N*Ma2 - m*B) =
    # -(N*Ma1 - n*B)), so sum_i (1/n_i)(...) = hcap * s, and
    # A2 = (N-1)/N * hcap * s / N.
    a2 = (nd - 1) / nd * hcap * F.col("s") / nd
    # Scholz-Stephens variance of A2akN for k=2. The constants need
    # only the harmonic numbers H_{N-1} and H2_N: the double sum
    # g = sum_{i<=N-2} (H_{N-1} - H_i)/(N-i) has the CLOSED FORM
    # g = H2_N - 2*H_{N-1}/N - 1/N^2 (generating-function identity
    # sum_{j<N} H_{N-j}/j = H_N^2 - H2_N, validated to machine
    # precision in tests) — so NOTHING here is O(N): below the
    # AD_HARMONIC_FOLD_CAP literal both engines run the exact
    # ascending fold, above it the Euler-Maclaurin expansions (error
    # < 1e-14 at the cap, identical doubles both engines). No
    # corpus-sized array ever materializes (review finding).
    em_h = (
        f"ln(cast(nn - 1 as double)) + {_EULER_GAMMA!r}"
        " + 1.0 / (2.0 * (nn - 1))"
        " - 1.0 / (12.0 * (nn - 1) * (nn - 1))"
        " + 1.0 / (120.0 * (nn - 1) * (nn - 1) * (nn - 1)"
        " * (nn - 1))"
    )
    em_h2 = (
        f"{_PI2_OVER_6!r} - 1.0 / nn + 1.0 / (2.0 * nn * nn)"
        " - 1.0 / (6.0 * nn * nn * nn)"
        " + 1.0 / (30.0 * nn * nn * nn * nn * nn)"
    )
    cap = AD_HARMONIC_FOLD_CAP
    agg = agg.withColumn(
        "hh",
        F.expr(
            f"if(nn - 1 <= {cap},"
            " aggregate(sequence(1, cast(nn - 1 as int)),"
            " cast(0.0 as double), (ac, i) -> ac + 1.0 / i),"
            f" {em_h})"
        ),
    ).withColumn(
        "h2n",
        F.expr(
            f"if(nn <= {cap},"
            " aggregate(sequence(1, cast(nn as int)),"
            " cast(0.0 as double),"
            " (ac, i) -> ac + 1.0 / (cast(i as double) * i)),"
            f" {em_h2})"
        ),
    ).withColumn(
        "gg",
        F.expr(
            "h2n - 2.0 * hh / nn"
            " - 1.0 / (cast(nn as double) * nn)"
        ),
    )
    hh = F.col("hh")
    gg = F.col("gg")
    k = 2
    aa = (4 * gg - 6) * (k - 1) + (10 - 6 * gg) * hcap
    bb = (
        (2 * gg - 4) * k * k
        + 8 * hh * k
        + (2 * gg - 14 * hh - 4) * hcap
        - 8 * hh
        + 4 * gg
        - 6
    )
    cc = (
        (6 * hh + 2 * gg - 2) * k * k
        + (4 * hh - 4 * gg + 6) * k
        + (2 * hh - 6) * hcap
        + 4 * hh
    )
    dd = (2 * hh + 6) * k * k - 4 * hh * k
    var = (
        aa * nd * nd * nd + bb * nd * nd + cc * nd + dd
    ) / ((nd - 1) * (nd - 2) * (nd - 3))
    tstd = F.round((a2 - (k - 1)) / F.sqrt(var), 6)
    return agg.select(
        F.col("n").alias("n1"),
        F.col("m").alias("n2"),
        F.round(a2, 6).alias("a2_stat"),
        tstd.alias("t_std"),
        (tstd > AD_CRIT_05).alias("significant"),
    )




ORACLE_AD_2S = f"""
ad_c AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS c,
         event_type = 'purchase' AS is_x
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
),
ad_v AS (
  SELECT c,
         CAST(sum(CASE WHEN is_x THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN is_x THEN 0 ELSE 1 END) AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS z0
  FROM ad_c GROUP BY 1
),
ad_p AS (
  SELECT a, b, z0 AS z,
         CAST(sum(a) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS ca,
         CAST(sum(z0) OVER (ORDER BY c
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cz
  FROM ad_v
),
ad_t AS (
  SELECT CAST(sum(a) AS BIGINT) AS n, CAST(sum(b) AS BIGINT) AS m,
         CAST(sum(z0) AS BIGINT) AS nn
  FROM ad_v
),
ad_s AS (
  SELECT t.n, t.m, t.nn,
         sum(CASE WHEN (2 * p.cz - p.z)
                       * (2 * t.nn - (2 * p.cz - p.z))
                       - t.nn * p.z <> 0
             THEN CAST(CAST(p.z AS HUGEINT)
                  * (t.nn * CAST(2 * p.ca - p.a AS HUGEINT)
                     - t.n * (2 * p.cz - p.z))
                  * (t.nn * CAST(2 * p.ca - p.a AS HUGEINT)
                     - t.n * (2 * p.cz - p.z)) AS DOUBLE)
                  / CAST(CAST(2 * p.cz - p.z AS HUGEINT)
                         * (2 * t.nn - (2 * p.cz - p.z))
                         - CAST(t.nn AS HUGEINT) * p.z AS DOUBLE)
             ELSE 0.0 END) AS s
  FROM ad_p p, ad_t t GROUP BY 1, 2, 3
),
ad_hg AS (
  SELECT n, m, nn, s,
         CASE WHEN nn - 1 <= {AD_HARMONIC_FOLD_CAP} THEN
           list_aggregate(list_transform(range(1, CAST(nn AS INT)),
             i -> 1.0 / i), 'sum')
         ELSE ln(CAST(nn - 1 AS DOUBLE)) + {_EULER_GAMMA!r}
              + 1.0 / (2.0 * (nn - 1))
              - 1.0 / (12.0 * (nn - 1) * (nn - 1))
              + 1.0 / (120.0 * (nn - 1) * (nn - 1) * (nn - 1)
                       * (nn - 1)) END AS hh,
         CASE WHEN nn <= {AD_HARMONIC_FOLD_CAP} THEN
           list_aggregate(list_transform(range(1, CAST(nn + 1 AS INT)),
             i -> 1.0 / (CAST(i AS DOUBLE) * i)), 'sum')
         ELSE {_PI2_OVER_6!r} - 1.0 / nn + 1.0 / (2.0 * nn * nn)
              - 1.0 / (6.0 * nn * nn * nn)
              + 1.0 / (30.0 * nn * nn * nn * nn * nn) END AS h2n,
         1.0 / n + 1.0 / m AS hcap
  FROM ad_s
),
ad_g AS (
  SELECT n, m, nn, s, hh, hcap,
         h2n - 2.0 * hh / nn - 1.0 / (CAST(nn AS DOUBLE) * nn) AS gg
  FROM ad_hg
),
ad_f AS (
  SELECT n, m, nn, hh, hcap, gg,
         (CAST(nn AS DOUBLE) - 1) / nn * hcap * s / nn AS a2,
         ((((4 * gg - 6) * 1 + (10 - 6 * gg) * hcap)
             * CAST(nn AS DOUBLE) * nn * nn
           + ((2 * gg - 4) * 4 + 8 * hh * 2
              + (2 * gg - 14 * hh - 4) * hcap - 8 * hh
              + 4 * gg - 6) * CAST(nn AS DOUBLE) * nn
           + ((6 * hh + 2 * gg - 2) * 4
              + (4 * hh - 4 * gg + 6) * 2
              + (2 * hh - 6) * hcap + 4 * hh) * CAST(nn AS DOUBLE)
           + ((2 * hh + 6) * 4 - 4 * hh * 2))
          / ((CAST(nn AS DOUBLE) - 1) * (nn - 2) * (nn - 3))) AS var
  FROM ad_g
),
anderson_darling_2s AS (
  SELECT n AS n1, m AS n2,
         round(a2, 6) AS a2_stat,
         round((a2 - 1) / sqrt(var), 6) AS t_std,
         round((a2 - 1) / sqrt(var), 6) > {AD_CRIT_05} AS significant
  FROM ad_f
)
"""




# ---------------------------------------------------------------------------
# Yuen's trimmed-mean two-sample test (round 8)
# ---------------------------------------------------------------------------

#: per-tail trim proportion — EXACTLY 1/5, applied as integer n DIV 5
#: so the trim count is engine-exact (no float multiply).
YUEN_TRIM_DEN = 5




def yuen_trimmed_test(events: DataFrame) -> DataFrame:
    """Yuen's (1974) two-sample test on 20%-trimmed means of purchase
    vs click values — the robust LOCATION test that completes the
    two-sample family: Mann-Whitney ranks everything (loses the
    metric), Mood keeps only above/below, Cliff's delta is an effect
    size; Yuen keeps the METRIC scale while discarding both 20% tails,
    so whales and zero-spikes cannot move it, and it remains a test
    about means (of the trimmed population) — the one reviewers ask
    for when t-test assumptions fail but "which group spends more" must
    stay in dollars.

    Exact order statistics on the cent grain via the octave-bucket
    prefix kernel (``ranking.value_prefix``, group_cols): per group,
    g = n DIV 5, the winsorizing values L (rank g+1) and U (rank
    n-g), and the partial-tail sums make every trimmed/winsorized
    moment an exact BIGINT — sum of g smallest = prefix-sum below L plus
    (g - count-below-L) copies of L, symmetric above. Only the final
    t/df chain divides: trimmed mean mt = trimsum/h with h = n - 2g,
    winsorized variance s2w = (wsum2 - wsum^2/n)/(n-1), d = s2w (n-1)
    / (h (h-1)), t = (mt1-mt2)/sqrt(d1+d2), Welch-Satterthwaite df =
    (d1+d2)^2 / (d1^2/(h1-1) + d2^2/(h2-1)); |t| > 1.96 is the
    documented large-sample 5% convention (h ~ hundreds at sf0.01+).

    Scale: one value-grain hash-agg per group + the bounded-octave
    prefix kernel + two 1-row joins — zero global windows, zero pair
    joins. Output (1 row): n1, n2, g1, g2, h1, h2, tm1, tm2 (the
    trimmed means, converted back from the cent grain to the VALUE
    scale at the edge), t_stat, df, significant.
    """
    cg = events.filter(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "click")
    ).select(
        F.when(F.col("event_type") == "purchase", F.lit("x"))
        .otherwise(F.lit("y"))
        .alias("grp"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )
    vg = cg.groupBy("grp", "c").agg(F.count("*").alias("cnt")).select(
        "grp",
        "c",
        "cnt",
        (F.col("c") * F.col("cnt")).alias("s"),
        (F.col("c") * F.col("c") * F.col("cnt")).alias("s2"),
    )
    pre = _rank.value_prefix(
        vg, ["cnt", "s", "s2"], "c", group_cols=("grp",)
    )
    pre2 = pre.select(
        "grp",
        "c",
        "_pre_cnt",
        "_pre_s",
        "_pre_s2",
        (F.col("_pre_cnt") + F.col("cnt")).alias("cum"),
        (F.col("_pre_s") + F.col("s")).alias("cs"),
        (F.col("_pre_s2") + F.col("s2")).alias("cs2"),
    )
    tots = (
        vg.groupBy("grp")
        .agg(
            F.sum("cnt").alias("n"),
            F.sum("s").alias("st"),
            F.sum("s2").alias("st2"),
        )
        .select("*", F.expr(f"n DIV {YUEN_TRIM_DEN}").alias("g"))
    )
    j = pre2.join(F.broadcast(tots), "grp")
    lu = j.groupBy("grp").agg(
        F.min(
            F.when(F.col("cum") >= F.col("g") + 1, F.col("c"))
        ).alias("lv"),
        F.min(
            F.when(F.col("cum") >= F.col("n") - F.col("g"), F.col("c"))
        ).alias("uv"),
    )
    lrow = pre2.join(
        F.broadcast(
            lu.select("grp", F.col("lv").alias("c"), "lv")
        ),
        ["grp", "c"],
    ).select(
        "grp",
        "lv",
        F.col("_pre_cnt").alias("lcnt"),
        F.col("_pre_s").alias("ls"),
        F.col("_pre_s2").alias("ls2"),
    )
    urow = pre2.join(
        F.broadcast(
            lu.select("grp", F.col("uv").alias("c"), "uv")
        ),
        ["grp", "c"],
    ).select(
        "grp",
        "uv",
        F.col("cum").alias("ucum"),
        F.col("cs").alias("ucs"),
        F.col("cs2").alias("ucs2"),
    )
    m = tots.join(lrow, "grp").join(urow, "grp")
    g, n = F.col("g"), F.col("n")
    lv, uv = F.col("lv"), F.col("uv")
    s_below = F.col("ls") + (g - F.col("lcnt")) * lv
    s2_below = F.col("ls2") + (g - F.col("lcnt")) * lv * lv
    cnt_above = n - F.col("ucum")
    s_above = F.col("st") - F.col("ucs") + (g - cnt_above) * uv
    s2_above = (
        F.col("st2") - F.col("ucs2") + (g - cnt_above) * uv * uv
    )
    h = n - 2 * g
    trim_sum = F.col("st") - s_below - s_above
    wsum = trim_sum + g * (lv + uv)
    wsum2 = F.col("st2") - s2_below - s2_above + g * (lv * lv + uv * uv)
    mt = trim_sum.cast("double") / h.cast("double")
    s2w = (
        wsum2.cast("double")
        - wsum.cast("double") * wsum.cast("double") / n.cast("double")
    ) / (n.cast("double") - 1)
    d = s2w * (n.cast("double") - 1) / (
        h.cast("double") * (h.cast("double") - 1)
    )
    per = m.select(
        "grp",
        n.alias("n"),
        g.alias("g"),
        h.alias("h"),
        mt.alias("mt"),
        d.alias("d"),
    )
    wide = per.groupBy().pivot("grp", ["x", "y"]).agg(
        F.first("n").alias("n"),
        F.first("g").alias("g"),
        F.first("h").alias("h"),
        F.first("mt").alias("mt"),
        F.first("d").alias("d"),
    )
    # degenerate-input guard (r8 ADVICE item 3): with one group absent
    # the pivot emits a single row with NULL columns for that side,
    # while the oracle's cross join of an empty branch emits zero rows
    # — drop the half-populated row so both engines agree on "no test".
    wide = wide.filter(
        F.col("x_n").isNotNull() & F.col("y_n").isNotNull()
    )
    dx, dy = F.col("x_d"), F.col("y_d")
    hx, hy = F.col("x_h").cast("double"), F.col("y_h").cast("double")
    t = (F.col("x_mt") - F.col("y_mt")) / F.sqrt(dx + dy)
    df = ((dx + dy) * (dx + dy)) / (
        dx * dx / (hx - 1) + dy * dy / (hy - 1)
    )
    return wide.select(
        F.col("x_n").alias("n1"),
        F.col("y_n").alias("n2"),
        F.col("x_g").alias("g1"),
        F.col("y_g").alias("g2"),
        F.col("x_h").alias("h1"),
        F.col("y_h").alias("h2"),
        F.round(F.col("x_mt") / 100, 6).alias("tm1"),
        F.round(F.col("y_mt") / 100, 6).alias("tm2"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 6).alias("df"),
        (F.abs(F.round(t, 6)) > 1.96).alias("significant"),
    )




ORACLE_YUEN = f"""
yu_cg AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 'x' ELSE 'y' END AS grp,
         CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
),
yu_vg AS (
  SELECT grp, c, CAST(count(*) AS BIGINT) AS cnt,
         CAST(c * count(*) AS BIGINT) AS s,
         CAST(c * c * count(*) AS BIGINT) AS s2
  FROM yu_cg GROUP BY 1, 2
),
yu_pre AS (
  SELECT grp, c,
         CAST(sum(cnt) OVER w AS BIGINT) AS cum,
         CAST(sum(s) OVER w AS BIGINT) AS cs,
         CAST(sum(s2) OVER w AS BIGINT) AS cs2,
         CAST(sum(cnt) OVER w - cnt AS BIGINT) AS pcnt,
         CAST(sum(s) OVER w - s AS BIGINT) AS ps,
         CAST(sum(s2) OVER w - s2 AS BIGINT) AS ps2
  FROM yu_vg
  WINDOW w AS (PARTITION BY grp ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
yu_tot AS (
  SELECT grp, CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(s) AS BIGINT) AS st, CAST(sum(s2) AS BIGINT) AS st2,
         CAST(sum(cnt) // {YUEN_TRIM_DEN} AS BIGINT) AS g
  FROM yu_vg GROUP BY 1
),
yu_lu AS (
  SELECT p.grp,
         min(CASE WHEN p.cum >= t.g + 1 THEN p.c END) AS lv,
         min(CASE WHEN p.cum >= t.n - t.g THEN p.c END) AS uv
  FROM yu_pre p JOIN yu_tot t USING (grp) GROUP BY 1
),
yu_l AS (
  SELECT p.grp, u.lv, p.pcnt AS lcnt, p.ps AS ls, p.ps2 AS ls2
  FROM yu_pre p JOIN yu_lu u ON u.grp = p.grp AND p.c = u.lv
),
yu_u AS (
  SELECT p.grp, u.uv, p.cum AS ucum, p.cs AS ucs, p.cs2 AS ucs2
  FROM yu_pre p JOIN yu_lu u ON u.grp = p.grp AND p.c = u.uv
),
yu_m AS (
  SELECT t.grp, t.n, t.g, t.n - 2 * t.g AS h,
         t.st - (l.ls + (t.g - l.lcnt) * l.lv)
              - (t.st - u.ucs + (t.g - (t.n - u.ucum)) * u.uv)
           AS trim_sum,
         t.st2 - (l.ls2 + (t.g - l.lcnt) * l.lv * l.lv)
               - (t.st2 - u.ucs2
                  + (t.g - (t.n - u.ucum)) * u.uv * u.uv)
           AS trim_sum2,
         l.lv, u.uv
  FROM yu_tot t JOIN yu_l l USING (grp) JOIN yu_u u USING (grp)
),
yu_d AS (
  SELECT grp, n, g, h,
         CAST(trim_sum AS DOUBLE) / h AS mt,
         ((CAST(trim_sum2 + g * (lv * lv + uv * uv) AS DOUBLE)
           - CAST(trim_sum + g * (lv + uv) AS DOUBLE)
             * CAST(trim_sum + g * (lv + uv) AS DOUBLE)
             / CAST(n AS DOUBLE))
          / (CAST(n AS DOUBLE) - 1))
         * (CAST(n AS DOUBLE) - 1)
         / (CAST(h AS DOUBLE) * (CAST(h AS DOUBLE) - 1)) AS d
  FROM yu_m
),
events_yuen AS (
  SELECT x.n AS n1, y.n AS n2, x.g AS g1, y.g AS g2,
         x.h AS h1, y.h AS h2,
         round(x.mt / 100, 6) AS tm1, round(y.mt / 100, 6) AS tm2,
         round((x.mt - y.mt) / sqrt(x.d + y.d), 6) AS t_stat,
         round((x.d + y.d) * (x.d + y.d)
               / (x.d * x.d / (CAST(x.h AS DOUBLE) - 1)
                  + y.d * y.d / (CAST(y.h AS DOUBLE) - 1)), 6) AS df,
         abs(round((x.mt - y.mt) / sqrt(x.d + y.d), 6)) > 1.96
           AS significant
  FROM (SELECT * FROM yu_d WHERE grp = 'x') x,
       (SELECT * FROM yu_d WHERE grp = 'y') y
)
"""



# ---------------------------------------------------------------------------
# Cramér's V — effect size for categorical association (r9). The chi2
# independence test answers "is event mix associated with day of
# week"; V answers "how strongly", normalized to [0, 1] so it is
# comparable across tables of different size — the number a
# data-quality dashboard actually thresholds on.
# ---------------------------------------------------------------------------

CRAMERS_V_SMALL = 0.1
CRAMERS_V_MEDIUM = 0.3
CRAMERS_V_LARGE = 0.5


def cramers_v(events: DataFrame) -> DataFrame:
    """Cramér's V over the event_type × day-of-week contingency table.

    Exactness protocol (same as ``chi2_independence_test``): the FULL
    grid is materialized (distinct types × distinct dows, zero-filled
    — an observed-cells-only sum would silently drop the (R·C)²/(N·R·C)
    contribution of empty cells), each cell's term keeps an integral
    BIGINT numerator with ONE double division, the across-cells sum
    rounds at 6 (the fold-order rule), and V = sqrt(chi2 / (n·k)) uses
    only sqrt/division — both correctly rounded per IEEE, so engines
    agree bit for bit. Output (1 row): n, n_rows, n_cols, dof, chi2,
    cramers_v, effect.

    Scale: one hash-agg to the bounded (type, dow) grain; margins and
    the grid are broadcast-sized; nothing after the first agg touches
    data.
    """
    cells = (
        events.select(
            "event_type", F.dayofweek("ts").alias("dow")
        )
        .groupBy("event_type", "dow")
        .agg(F.count("*").alias("o"))
    )
    grid = (
        cells.select("event_type")
        .distinct()
        .crossJoin(cells.select("dow").distinct())
        .join(cells, ["event_type", "dow"], "left")
        .select(
            "event_type", "dow", F.coalesce("o", F.lit(0)).alias("o")
        )
    )
    rows_m = grid.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols_m = grid.groupBy("dow").agg(F.sum("o").alias("c"))
    tot = grid.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").alias("n_rows"),
        F.countDistinct("dow").alias("n_cols"),
    )
    terms = (
        grid.join(rows_m, "event_type")
        .join(F.broadcast(cols_m), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            "n_rows",
            "n_cols",
            (
                (F.col("o") * F.col("n") - F.col("r") * F.col("c"))
                * (F.col("o") * F.col("n") - F.col("r") * F.col("c"))
            ).cast("double").alias("num"),
            (F.col("n") * F.col("r") * F.col("c"))
            .cast("double")
            .alias("den"),
        )
    )
    agg = terms.groupBy("n", "n_rows", "n_cols").agg(
        F.round(F.sum(F.col("num") / F.col("den")), 6).alias("chi2")
    )
    k = F.least(F.col("n_rows") - 1, F.col("n_cols") - 1).cast(
        "double"
    )
    v = F.round(
        F.sqrt(F.col("chi2") / (F.col("n").cast("double") * k)), 6
    )
    return agg.select(
        "n",
        F.col("n_rows").cast("int").alias("n_rows"),
        F.col("n_cols").cast("int").alias("n_cols"),
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1))
        .cast("int")
        .alias("dof"),
        "chi2",
        v.alias("cramers_v"),
        F.when(v < CRAMERS_V_SMALL, F.lit("negligible"))
        .when(v < CRAMERS_V_MEDIUM, F.lit("small"))
        .when(v < CRAMERS_V_LARGE, F.lit("medium"))
        .otherwise(F.lit("large"))
        .alias("effect"),
    )


ORACLE_CRAMERS_V = f"""
cv_cells AS (
  SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow,
         CAST(count(*) AS BIGINT) AS o
  FROM events GROUP BY 1, 2
),
cv_grid AS (
  SELECT t.event_type, d.dow, COALESCE(c.o, 0) AS o
  FROM (SELECT DISTINCT event_type FROM cv_cells) t
  CROSS JOIN (SELECT DISTINCT dow FROM cv_cells) d
  LEFT JOIN cv_cells c USING (event_type, dow)
),
cv_rows AS (
  SELECT event_type, CAST(sum(o) AS BIGINT) AS r
  FROM cv_grid GROUP BY 1
),
cv_cols AS (
  SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM cv_grid GROUP BY 1
),
cv_tot AS (
  SELECT CAST(sum(o) AS BIGINT) AS n,
         CAST(count(DISTINCT event_type) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT dow) AS BIGINT) AS n_cols
  FROM cv_grid
),
cv_chi2 AS (
  SELECT n, n_rows, n_cols,
         round(sum(
           CAST((g.o * t.n - r.r * c.c) * (g.o * t.n - r.r * c.c)
                AS DOUBLE)
           / CAST(t.n * r.r * c.c AS DOUBLE)), 6) AS chi2
  FROM cv_grid g
  JOIN cv_rows r USING (event_type)
  JOIN cv_cols c USING (dow)
  CROSS JOIN cv_tot t
  GROUP BY 1, 2, 3
),
events_cramers_v AS (
  SELECT n, CAST(n_rows AS INT) AS n_rows, CAST(n_cols AS INT) AS n_cols,
         CAST((n_rows - 1) * (n_cols - 1) AS INT) AS dof, chi2,
         round(sqrt(chi2 / (CAST(n AS DOUBLE)
               * CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE))), 6)
           AS cramers_v,
         CASE
           WHEN round(sqrt(chi2 / (CAST(n AS DOUBLE)
                * CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE))), 6)
                < {CRAMERS_V_SMALL} THEN 'negligible'
           WHEN round(sqrt(chi2 / (CAST(n AS DOUBLE)
                * CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE))), 6)
                < {CRAMERS_V_MEDIUM} THEN 'small'
           WHEN round(sqrt(chi2 / (CAST(n AS DOUBLE)
                * CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE))), 6)
                < {CRAMERS_V_LARGE} THEN 'medium'
           ELSE 'large'
         END AS effect
  FROM cv_chi2
)
"""


# ---------------------------------------------------------------------------
# TOST equivalence test (r9): two one-sided Welch tests against a
# ±margin band. The null is DIFFERENCE (the reverse of the usual
# test); rejecting both one-sided nulls demonstrates the two groups'
# means are equivalent within the margin — the statistically sound way
# to claim "the A/B change did NOT move the metric" or "the new data
# pipeline produces the same distribution".
# ---------------------------------------------------------------------------

#: equivalence margin as a fraction of the comparison group's mean.
TOST_REL_MARGIN = 0.1
#: z critical value for alpha = 0.05, one-sided.
TOST_Z_05 = 1.644854


def tost_equivalence(events: DataFrame) -> DataFrame:
    """TOST mean-equivalence of purchase vs click values with a
    ±``TOST_REL_MARGIN``·mean(click) margin.

    Exactness: values pack to integer cents so every per-group sum is
    an exact BIGINT; means/variances/SE divide those integers with
    the identical expression tree in both engines (correctly rounded
    IEEE ops); the two t statistics round at 6 and the verdict
    compares the rounded values. Output (1 row): n1, n2, mean1,
    mean2 (value scale), margin, se, t_lower, t_upper, equivalent.

    Scale: one two-row hash-agg over the filtered corpus; everything
    after is constant-size arithmetic.
    """
    g = (
        events.filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "click")
        )
        .select(
            (F.col("event_type") == "purchase").alias("is_p"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("is_p")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").alias("s"),
            F.sum(F.col("c") * F.col("c")).alias("s2"),
        )
    )
    wide = (
        g.filter("is_p")
        .select(
            F.col("n").alias("n1"),
            F.col("s").alias("s1"),
            F.col("s2").alias("q1"),
        )
        .crossJoin(
            g.filter("NOT is_p").select(
                F.col("n").alias("n2"),
                F.col("s").alias("s2_"),
                F.col("s2").alias("q2"),
            )
        )
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    m1 = F.col("s1").cast("double") / n1d
    m2 = F.col("s2_").cast("double") / n2d
    v1 = (F.col("q1").cast("double") - m1 * F.col("s1").cast("double")) / (
        n1d - 1
    )
    v2 = (F.col("q2").cast("double") - m2 * F.col("s2_").cast("double")) / (
        n2d - 1
    )
    se = F.sqrt(v1 / n1d + v2 / n2d)
    margin = F.lit(TOST_REL_MARGIN) * m2
    tl = F.round((m1 - m2 + margin) / se, 6)
    tu = F.round((margin - (m1 - m2)) / se, 6)
    return wide.select(
        "n1",
        "n2",
        F.round(m1 / 100, 6).alias("mean1"),
        F.round(m2 / 100, 6).alias("mean2"),
        F.round(margin / 100, 6).alias("margin"),
        F.round(se / 100, 6).alias("se"),
        tl.alias("t_lower"),
        tu.alias("t_upper"),
        ((tl > TOST_Z_05) & (tu > TOST_Z_05)).alias("equivalent"),
    )


ORACLE_TOST = f"""
to_g AS (
  SELECT event_type = 'purchase' AS is_p,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS s,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)
                  * CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS s2
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
  GROUP BY 1
),
to_w AS (
  SELECT p.n AS n1, p.s AS s1, p.s2 AS q1,
         c.n AS n2, c.s AS s2_, c.s2 AS q2
  FROM (SELECT * FROM to_g WHERE is_p) p
  CROSS JOIN (SELECT * FROM to_g WHERE NOT is_p) c
),
to_d AS (
  SELECT n1, n2,
         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
         CAST(s2_ AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
         (CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
            * CAST(s1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1) AS v1,
         (CAST(q2 AS DOUBLE) - (CAST(s2_ AS DOUBLE) / CAST(n2 AS DOUBLE))
            * CAST(s2_ AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1) AS v2
  FROM to_w
),
to_t AS (
  SELECT n1, n2, m1, m2,
         sqrt(v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)) AS se,
         {TOST_REL_MARGIN} * m2 AS margin
  FROM to_d
),
events_tost AS (
  SELECT n1, n2,
         round(m1 / 100, 6) AS mean1,
         round(m2 / 100, 6) AS mean2,
         round(margin / 100, 6) AS margin,
         round(se / 100, 6) AS se,
         round((m1 - m2 + margin) / se, 6) AS t_lower,
         round((margin - (m1 - m2)) / se, 6) AS t_upper,
         round((m1 - m2 + margin) / se, 6) > {TOST_Z_05}
           AND round((margin - (m1 - m2)) / se, 6) > {TOST_Z_05}
           AS equivalent
  FROM to_t
)
"""
