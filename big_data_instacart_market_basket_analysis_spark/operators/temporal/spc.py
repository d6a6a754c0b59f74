"""[EXT] Statistical process control & outlier monitoring: control charts, changepoints, drift/anomaly screens.

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

from .fits import AR2_VAL_SCALE



#: anomaly rule: |z| against the trailing-hour window, min samples.
ANOMALY_Z_THRESH = 1.5


ANOMALY_MIN_N = 5


#: anomaly baseline window: 72 h (hourly windows are too sparse for a
#: stable baseline at this fixture's ~2 events/user/day).
ANOMALY_WINDOW_MS = 72 * 3600 * 1000




def rolling_zscore_anomalies(events: DataFrame) -> DataFrame:
    """Rolling z-score anomaly detection: each event scored against
    its user 72-hour baseline via integer-exact moments (value-millis
    sum and sum-of-squares over a RANGE frame are BIGINTs — no float
    accumulation-order dependence), then flagged on |z| > threshold.

    The z computation — mean/variance from integral sums, one sqrt,
    one division — is a fixed op sequence on exact inputs, so both
    engines agree without rounding. Same single user_id shuffle as any
    per-user window; emits only the anomalous rows.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms")
        .rangeBetween(-ANOMALY_WINDOW_MS, -1)
    )
    base = events.select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.floor(F.col("value") * 1000).cast("bigint").alias("v_mil"),
    )
    stats = base.select(
        "event_id",
        "user_id",
        "ts_ms",
        "v_mil",
        F.count("*").over(w).alias("n_prev"),
        F.sum("v_mil").over(w).alias("s1"),
        F.sum(F.col("v_mil") * F.col("v_mil")).over(w).alias("s2"),
    ).filter(F.col("n_prev") >= ANOMALY_MIN_N)
    mean = F.col("s1") / F.col("n_prev").cast("double")
    var = (
        F.col("s2") / F.col("n_prev").cast("double") - mean * mean
    )
    z = (F.col("v_mil") - mean) / F.sqrt(var)
    # var > 0 guard: a zero-variance window would make z NaN/inf, and
    # NaN ordering semantics differ across engines (DuckDB ranks NaN
    # above all values; Spark comparisons return false).
    return (
        stats.withColumn("var", var)
        .filter(F.col("var") > 0)
        .withColumn("z", z)
        .filter(F.col("z") * F.col("z") > ANOMALY_Z_THRESH**2)
        .select(
            "event_id", "user_id", "n_prev",
            F.round("z", 4).alias("zscore"),
        )
    )




ORACLE_ROLLING_ZSCORE = f"""
az_base AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
         CAST(floor(value * 1000) AS BIGINT) AS v_mil
  FROM events
),
az_stats AS (
  SELECT event_id, user_id, v_mil,
         CAST(count(*) OVER w AS BIGINT) AS n_prev,
         CAST(sum(v_mil) OVER w AS BIGINT) AS s1,
         CAST(sum(v_mil * v_mil) OVER w AS BIGINT) AS s2
  FROM az_base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
               RANGE BETWEEN {ANOMALY_WINDOW_MS} PRECEDING AND 1 PRECEDING)
),
rolling_zscore_anomalies AS (
  SELECT event_id, user_id, n_prev,
         round((v_mil - s1 / CAST(n_prev AS DOUBLE))
           / sqrt(s2 / CAST(n_prev AS DOUBLE)
                  - (s1 / CAST(n_prev AS DOUBLE))
                    * (s1 / CAST(n_prev AS DOUBLE))), 4) AS zscore
  FROM az_stats
  WHERE n_prev >= {ANOMALY_MIN_N}
    AND (s2 / CAST(n_prev AS DOUBLE)
         - (s1 / CAST(n_prev AS DOUBLE))
           * (s1 / CAST(n_prev AS DOUBLE))) > 0
    AND ((v_mil - s1 / CAST(n_prev AS DOUBLE))
           / sqrt(s2 / CAST(n_prev AS DOUBLE)
                  - (s1 / CAST(n_prev AS DOUBLE))
                    * (s1 / CAST(n_prev AS DOUBLE))))
        * ((v_mil - s1 / CAST(n_prev AS DOUBLE))
           / sqrt(s2 / CAST(n_prev AS DOUBLE)
                  - (s1 / CAST(n_prev AS DOUBLE))
                    * (s1 / CAST(n_prev AS DOUBLE))))
        > {ANOMALY_Z_THRESH**2}
)
"""




#: MAD outlier rule: |x - median| > K * MAD (the robust-statistics
#: convention; 3 approximates "3 sigma" for normal data x 1.4826).
MAD_K = 3.0




def mad_outlier_stats(events: DataFrame) -> DataFrame:
    """Robust per-type outlier detection via Median Absolute Deviation
    — the heavy-tail-safe alternative to z-scores (mean/stddev are
    themselves dragged by the outliers they're meant to find).

    Two grouped exact-percentile aggregations (median of value, then
    median of |value - median|), then one conditional count against
    the broadcast per-type thresholds. Three passes over the events
    scan, each a hash-agg on event_type (a handful of groups — the
    shuffles move only group-sized state). Exact medians at 100 TB
    would switch to ``approx_percentile`` sketches; the plan shape is
    unchanged, which is why the exact form is the right oracle here.
    Medians round(4) per the repo float rule.
    """
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = (
        events.join(F.broadcast(med), "event_type")
        .select(
            "event_type", F.abs(F.col("value") - F.col("med")).alias("d")
        )
        .groupBy("event_type")
        .agg(F.expr("percentile(d, 0.5)").alias("mad"))
    )
    stats = med.join(dev, "event_type")
    return (
        events.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.min("med"), 4).alias("median"),
            F.round(F.min("mad"), 4).alias("mad"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > F.lit(MAD_K) * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
            F.count("*").alias("n_events"),
        )
    )




ORACLE_MAD_OUTLIERS = f"""
mad_med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1
),
mad_dev AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN mad_med m USING (event_type)
  GROUP BY 1
),
mad_outlier_stats AS (
  SELECT e.event_type,
         round(min(m.med), 4) AS median,
         round(min(d.mad), 4) AS mad,
         CAST(sum(CASE WHEN abs(e.value - m.med) > {MAD_K} * d.mad
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events e
  JOIN mad_med m USING (event_type)
  JOIN mad_dev d USING (event_type)
  GROUP BY 1
)
"""




#: PSI drift bins over value (fixture values are unit-scale).
PSI_BIN_WIDTH = 20.0


PSI_SPLIT_TS = "2024-01-16"




def psi_drift_report(events: DataFrame) -> DataFrame:
    """Population Stability Index between the first and second half of
    the event stream — the ML-ops drift monitor for a scoring
    feature. Per fixed-width value bin: reference share (before the
    split date), current share (after), and the bin's PSI term
    ``(p_cur - p_ref) * ln(p_cur / p_ref)``; the report's total is
    the sum. Counts aggregate in ONE conditional pass (bin x side in
    the same hash-agg); shares divide integer counts, and ln runs on
    the ratio of ALREADY-ROUNDED shares so both engines see identical
    inputs. Bins present on only one side are reported with a null
    term (the production alert case) instead of an infinite one.
    """
    side_cur = (F.col("ts") >= F.lit(PSI_SPLIT_TS)).cast("bigint")
    binned = events.groupBy(
        F.floor(F.col("value") / PSI_BIN_WIDTH).cast("bigint").alias("bin")
    ).agg(
        F.sum(1 - side_cur).alias("n_ref"),
        F.sum(side_cur).alias("n_cur"),
    )
    totals = binned.agg(
        F.sum("n_ref").alias("tot_ref"), F.sum("n_cur").alias("tot_cur")
    )
    shared = binned.join(F.broadcast(totals))
    p_ref = F.round(F.col("n_ref") / F.col("tot_ref"), 6)
    p_cur = F.round(F.col("n_cur") / F.col("tot_cur"), 6)
    term = F.when(
        (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6),
    )
    return shared.select(
        "bin",
        "n_ref",
        "n_cur",
        p_ref.alias("p_ref"),
        p_cur.alias("p_cur"),
        term.alias("psi_term"),
    )




ORACLE_PSI_DRIFT = f"""
psi_binned AS (
  SELECT CAST(floor(value / {PSI_BIN_WIDTH}) AS BIGINT) AS bin,
         CAST(sum(CASE WHEN ts >= '{PSI_SPLIT_TS}'
                       THEN 0 ELSE 1 END) AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN ts >= '{PSI_SPLIT_TS}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM events GROUP BY 1
),
psi_tot AS (
  SELECT sum(n_ref) AS tot_ref, sum(n_cur) AS tot_cur FROM psi_binned
),
psi_drift AS (
  SELECT bin, n_ref, n_cur,
         round(CAST(n_ref AS DOUBLE) / tot_ref, 6) AS p_ref,
         round(CAST(n_cur AS DOUBLE) / tot_cur, 6) AS p_cur,
         CASE WHEN n_ref > 0 AND n_cur > 0 THEN
           round((round(CAST(n_cur AS DOUBLE) / tot_cur, 6)
                  - round(CAST(n_ref AS DOUBLE) / tot_ref, 6))
                 * ln(round(CAST(n_cur AS DOUBLE) / tot_cur, 6)
                      / round(CAST(n_ref AS DOUBLE) / tot_ref, 6)), 6)
         END AS psi_term
  FROM psi_binned, psi_tot
)
"""




def benford_audit(events: DataFrame) -> DataFrame:
    """Benford's-law first-digit audit of the value column — the
    classic fabricated-numbers / broken-ETL screen (organically grown
    magnitudes follow log10(1 + 1/d); uniform or constant-injected
    data does not).

    One map-only digit extraction + a 9-row agg; the chi-squared
    statistic against the Benford expectation uses exact observed
    integers and closed-form expected proportions. Output: one row
    per leading digit (n, observed share, benford share) — the
    verdict agg is a consumer's one-liner.
    """
    digits = (
        events.filter(F.col("value") > 0)
        .select(
            F.floor(
                F.col("value")
                / F.pow(F.lit(10.0), F.floor(F.log10("value")))
            )
            .cast("int")
            .alias("d")
        )
        .filter(F.col("d").between(1, 9))
    )
    tot = digits.agg(F.count("*").alias("n_total"))
    import math

    benford = F.create_map(
        *[
            F.lit(x)
            for d in range(1, 10)
            for x in (d, round(math.log10(1 + 1 / d), 6))
        ]
    )
    return (
        digits.groupBy("d")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "d",
            "n",
            F.round(F.col("n") / F.col("n_total"), 6).alias("observed"),
            benford[F.col("d")].alias("expected"),
        )
    )




def oracle_benford_audit() -> str:
    import math

    cases = " ".join(
        f"WHEN {d} THEN {round(math.log10(1 + 1 / d), 6)}"
        for d in range(1, 10)
    )
    return f"""
bf_d AS (
  SELECT CAST(floor(value / pow(10, floor(log10(value)))) AS INT) AS d
  FROM events WHERE value > 0
),
bf_f AS (SELECT d FROM bf_d WHERE d BETWEEN 1 AND 9),
bf_t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM bf_f),
benford_audit AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n,
         round(CAST(count(*) AS DOUBLE) / any_value(t.n_total), 6)
           AS observed,
         CAST(CASE d {cases} END AS DOUBLE) AS expected
  FROM bf_f, bf_t t
  GROUP BY d
)
"""




#: CUSUM parameters: slack k and decision threshold h, in units of
#: the series' own scale (applied to daily event-count deviations
#: from the series mean).
CUSUM_K_FRAC = 0.1


CUSUM_H_FRAC = 1.0




def cusum_changepoints(events: DataFrame) -> DataFrame:
    """CUSUM change-point detection over the daily event-count series
    — the sequential monitoring statistic (Page 1954) behind "did
    volume shift, and when": S+ accumulates positive deviations from
    the mean (minus a slack k), S- the negative ones; an alarm fires
    when either exceeds h.

    The recursion S+' = max(0, S+ + (x - mean - k)) folds left over
    the day-ordered series (the Holt pattern: Spark ``aggregate``
    fold, recursive-CTE oracle — same scalar op order, bit-exact).
    Mean, k, and h derive from the series itself (fractions of the
    mean), so the operator is scale-free. The daily series is tiny by
    construction (one row per day), so the fold is driver-free AND
    data-light; the only corpus-sized work is the per-day count agg.

    Output: one row per day — day, n, s_pos, s_neg, alarm.
    """
    daily = (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    stats = daily.agg(
        F.avg("n").alias("mu"),
        F.count("*").alias("n_days"),
    )
    series = daily.crossJoin(F.broadcast(stats)).select(
        "day", "n", "mu"
    )
    arr = (
        series.groupBy()
        .agg(
            F.expr(
                "array_sort(collect_list(struct(day, n, mu)))"
            ).alias("xs")
        )
    )
    k = f"(x.mu * {CUSUM_K_FRAC}D)"
    h = f"(acc.mu * {CUSUM_H_FRAC}D)"
    step = (
        "(acc, x) -> struct("
        " greatest(CAST(0 AS DOUBLE),"
        "   acc.sp + (CAST(x.n AS DOUBLE) - x.mu) - " + k + ") AS sp,"
        " greatest(CAST(0 AS DOUBLE),"
        "   acc.sn - (CAST(x.n AS DOUBLE) - x.mu) - " + k + ") AS sn,"
        " x.mu AS mu,"
        " concat(acc.rows, array(struct(x.day AS day, x.n AS n,"
        "   greatest(CAST(0 AS DOUBLE),"
        "     acc.sp + (CAST(x.n AS DOUBLE) - x.mu) - " + k + ") AS sp,"
        "   greatest(CAST(0 AS DOUBLE),"
        "     acc.sn - (CAST(x.n AS DOUBLE) - x.mu) - " + k + ") AS sn"
        " ))) AS rows)"
    )
    fold = (
        "aggregate(xs,"
        " struct(CAST(0 AS DOUBLE) AS sp, CAST(0 AS DOUBLE) AS sn,"
        " xs[0].mu AS mu,"
        " CAST(array() AS array<struct<day: date, n: bigint,"
        " sp: double, sn: double>>) AS rows),"
        f" {step})"
    )
    return (
        arr.select(F.explode(F.expr(f"{fold}.rows")).alias("r"),
                   F.expr(f"{fold}.mu").alias("mu"))
        .select(
            F.col("r.day").alias("day"),
            F.col("r.n").alias("n"),
            F.round("r.sp", 6).alias("s_pos"),
            F.round("r.sn", 6).alias("s_neg"),
            (
                (F.col("r.sp") > F.col("mu") * CUSUM_H_FRAC)
                | (F.col("r.sn") > F.col("mu") * CUSUM_H_FRAC)
            ).alias("alarm"),
        )
    )




#: recursive-CTE oracle (recursive=True).
ORACLE_CUSUM = f"""
cs_daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
cs_stats AS (
  SELECT avg(n) AS mu, count(*) AS n_days FROM cs_daily
),
cs_seq AS (
  SELECT day, n, mu,
         row_number() OVER (ORDER BY day) AS pos
  FROM cs_daily, cs_stats
),
cs_rec AS (
  SELECT day, n, mu, pos,
         greatest(CAST(0 AS DOUBLE),
           (CAST(n AS DOUBLE) - mu) - mu * {CUSUM_K_FRAC}) AS sp,
         greatest(CAST(0 AS DOUBLE),
           -(CAST(n AS DOUBLE) - mu) - mu * {CUSUM_K_FRAC}) AS sn
  FROM cs_seq WHERE pos = 1
  UNION ALL
  SELECT s.day, s.n, s.mu, s.pos,
         greatest(CAST(0 AS DOUBLE),
           r.sp + (CAST(s.n AS DOUBLE) - s.mu)
           - s.mu * {CUSUM_K_FRAC}),
         greatest(CAST(0 AS DOUBLE),
           r.sn - (CAST(s.n AS DOUBLE) - s.mu)
           - s.mu * {CUSUM_K_FRAC})
  FROM cs_rec r JOIN cs_seq s ON s.pos = r.pos + 1
),
cusum_changepoints AS (
  SELECT day, n, round(sp, 6) AS s_pos, round(sn, 6) AS s_neg,
         (sp > mu * {CUSUM_H_FRAC}) OR (sn > mu * {CUSUM_H_FRAC})
           AS alarm
  FROM cs_rec
)
"""




#: bot heuristics: inter-arrival regularity (CV below this) at
#: meaningful volume (events above this) flags automation.
BOT_MIN_EVENTS = 50


BOT_MAX_CV = 0.4




def bot_flags(events: DataFrame) -> DataFrame:
    """Behavioral bot screen: humans arrive bursty (inter-arrival
    coefficient of variation ~1 for Poisson-ish behavior, higher with
    sessions), automation arrives on a clock (CV near 0). Flag users
    with low gap-CV at meaningful volume — the standard first-pass
    filter before traffic-derived text enters a training corpus.

    Same single user_id shuffle as the inter-arrival operator (the
    gap window and the per-user agg share the partitioning). Variance
    from integral-order millis sums (sum, sum of squares) with the
    stats rounded to 6dp BEFORE the CV division — the cross-engine
    float rule. Output: per-user n_events, mean/std gap, gap_cv,
    is_bot.
    """
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gaps = (
        events.select(
            "user_id", "event_id", F.unix_millis("ts").alias("ts_ms")
        )
        .withColumn("gap", F.col("ts_ms") - F.lag("ts_ms").over(w))
        .filter(F.col("gap").isNotNull())
    )
    agg = gaps.groupBy("user_id").agg(
        (F.count("*") + 1).alias("n_events"),
        F.sum("gap").alias("s"),
        F.sum(F.col("gap") * F.col("gap")).alias("s2"),
        F.count("*").alias("m"),
    )
    mean = F.round(F.col("s") / F.col("m"), 6)
    var = F.round(
        F.col("s2").cast("double") / F.col("m")
        - (F.col("s").cast("double") / F.col("m"))
        * (F.col("s").cast("double") / F.col("m")),
        6,
    )
    out = agg.select(
        "user_id",
        "n_events",
        mean.alias("mean_gap_ms"),
        F.round(F.sqrt(var), 6).alias("std_gap_ms"),
        F.round(F.round(F.sqrt(var), 6) / mean, 6).alias("gap_cv"),
    )
    return out.withColumn(
        "is_bot",
        (F.col("n_events") >= BOT_MIN_EVENTS)
        & (F.col("gap_cv") < BOT_MAX_CV),
    )




ORACLE_BOT_FLAGS = f"""
bt_g AS (
  SELECT user_id,
         ts_ms - lag(ts_ms) OVER (
           PARTITION BY user_id ORDER BY ts_ms, event_id) AS gap
  FROM (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events)
),
bt_a AS (
  SELECT user_id,
         CAST(count(*) + 1 AS BIGINT) AS n_events,
         CAST(sum(gap) AS BIGINT) AS s,
         CAST(sum(gap * gap) AS BIGINT) AS s2,
         CAST(count(*) AS BIGINT) AS m
  FROM bt_g WHERE gap IS NOT NULL
  GROUP BY 1
),
bt_s AS (
  SELECT user_id, n_events,
         round(CAST(s AS DOUBLE) / m, 6) AS mean_gap_ms,
         round(sqrt(round(CAST(s2 AS DOUBLE) / m
               - (CAST(s AS DOUBLE) / m) * (CAST(s AS DOUBLE) / m),
               6)), 6) AS std_gap_ms
  FROM bt_a
),
bot_flags AS (
  SELECT user_id, n_events, mean_gap_ms, std_gap_ms,
         round(std_gap_ms / mean_gap_ms, 6) AS gap_cv,
         n_events >= {BOT_MIN_EVENTS}
           AND round(std_gap_ms / mean_gap_ms, 6) < {BOT_MAX_CV}
           AS is_bot
  FROM bt_s
)
"""




# ---------------------------------------------------------------------------
# Hampel (median/MAD) robust outlier screen
# ---------------------------------------------------------------------------

#: Hampel threshold: 3 sigma-equivalents, MAD -> sigma factor 1.4826.
HAMPEL_K = 4.4478




def hampel_outliers(events: DataFrame) -> DataFrame:
    """Robust per-type outlier screen: median and MAD (median absolute
    deviation) instead of mean/stddev — the estimator a heavy-tailed
    value column needs (one fat order shifts a mean, not a median).
    Flags values with |v - median| > 3 * 1.4826 * MAD.

    Two exact-percentile passes (median, then MAD on the residuals
    against the PRE-ROUNDED median — the broadcast join keeps both
    engines comparing identical operands) + one counting pass; all
    three shuffle on event_type with map-side partials. Output per
    type: n, median, mad, n_outliers, outlier_pct.
    """
    med = events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    with_med = events.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        F.round(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)),
            6,
        ).alias("mad")
    )
    flagged = with_med.join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.first("med").alias("median"),
        F.first("mad").alias("mad"),
        F.sum(
            (
                F.abs(F.col("value") - F.col("med"))
                > F.lit(HAMPEL_K) * F.col("mad")
            ).cast("bigint")
        ).alias("n_outliers"),
        F.round(
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > F.lit(HAMPEL_K) * F.col("mad")
                ).cast("bigint")
            )
            / F.count("*"),
            4,
        ).alias("outlier_pct"),
    )




ORACLE_HAMPEL = f"""
hm_med AS (
  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
  FROM events GROUP BY 1
),
hm_mad AS (
  SELECT e.event_type,
         round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
  FROM events e JOIN hm_med m USING (event_type)
  GROUP BY 1
),
hampel_outliers AS (
  SELECT e.event_type,
         CAST(count(*) AS BIGINT) AS n,
         max(m.med) AS median,
         max(d.mad) AS mad,
         CAST(sum(CASE WHEN abs(e.value - m.med)
                         > CAST({HAMPEL_K} AS DOUBLE) * d.mad
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         round(sum(CASE WHEN abs(e.value - m.med)
                          > CAST({HAMPEL_K} AS DOUBLE) * d.mad
                        THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE), 4) AS outlier_pct
  FROM events e
  JOIN hm_med m USING (event_type)
  JOIN hm_mad d USING (event_type)
  GROUP BY 1
)
"""




# ---------------------------------------------------------------------------
# peak detection on the daily revenue series (windowed prominence)
# ---------------------------------------------------------------------------

#: half-window (days) for the prominence baseline.
PEAK_WINDOW_DAYS = 7




def revenue_peaks(events: DataFrame) -> DataFrame:
    """Peak detection on daily revenue: a day is a peak when it beats
    both neighbors, and its PROMINENCE is how far it rises above the
    higher of the two window-side minima (±{w} days) — the signal
    statistic that separates a real demand spike from ripple, beside
    the CUSUM/Hampel change detectors. All arithmetic is integer
    cents; the major-peak flag is cross-multiplied (5·prom >= rev, a
    20% prominence bar), so the readout is engine-exact.

    Day-grain windows only (lag/lead + two sliding mins over the
    bounded series).

    Output per peak: day, rev_cents, prom_cents, is_major.
    """
    daily = (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                ).otherwise(0)
            ).alias("rev")
        )
    )
    w = Window.orderBy("day")
    wl = Window.orderBy("day").rowsBetween(-PEAK_WINDOW_DAYS, -1)
    wr = Window.orderBy("day").rowsBetween(1, PEAK_WINDOW_DAYS)
    marked = daily.select(
        "day",
        "rev",
        F.lag("rev").over(w).alias("prev"),
        F.lead("rev").over(w).alias("nxt"),
        F.min("rev").over(wl).alias("lmin"),
        F.min("rev").over(wr).alias("rmin"),
    ).filter(
        F.col("prev").isNotNull()
        & F.col("nxt").isNotNull()
        & (F.col("rev") > F.col("prev"))
        & (F.col("rev") > F.col("nxt"))
    )
    prom = F.col("rev") - F.greatest("lmin", "rmin")
    return marked.select(
        "day",
        F.col("rev").alias("rev_cents"),
        prom.alias("prom_cents"),
        (F.lit(5) * prom >= F.col("rev")).cast("int").alias("is_major"),
    )




revenue_peaks.__doc__ = revenue_peaks.__doc__.format(
    w=PEAK_WINDOW_DAYS
)




ORACLE_PEAKS = f"""
pk_daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS rev
  FROM events GROUP BY 1
),
pk_m AS (
  SELECT day, rev,
         lag(rev) OVER w AS prev, lead(rev) OVER w AS nxt,
         min(rev) OVER (ORDER BY day
             ROWS BETWEEN {PEAK_WINDOW_DAYS} PRECEDING
             AND 1 PRECEDING) AS lmin,
         min(rev) OVER (ORDER BY day
             ROWS BETWEEN 1 FOLLOWING
             AND {PEAK_WINDOW_DAYS} FOLLOWING) AS rmin
  FROM pk_daily
  WINDOW w AS (ORDER BY day)
),
revenue_peaks AS (
  SELECT day, rev AS rev_cents,
         rev - greatest(lmin, rmin) AS prom_cents,
         CAST(5 * (rev - greatest(lmin, rmin)) >= rev AS INT)
           AS is_major
  FROM pk_m
  WHERE prev IS NOT NULL AND nxt IS NOT NULL
    AND rev > prev AND rev > nxt
)
"""




# ---------------------------------------------------------------------------
# least-squares changepoint (binary segmentation, exact integer argmax)
# ---------------------------------------------------------------------------

def _cp_base():
    """Word base for the changepoint dominance comparison: p is
    split as p = hi*BASE + lo so cross-multiplied comparisons never
    divide a decimal by a column (Spark decimal division keeps only
    32 integer digits — the round-6 q = p div nn NULLed past
    q ~ 1e32). A function, not a module constant: building a Column
    needs an active session."""
    return F.lit(10**18).cast("decimal(19,0)")




def changepoint_split(events: DataFrame) -> DataFrame:
    """Offline least-squares changepoint over the daily purchase-
    revenue series (binary segmentation, first split): the day s that
    maximizes the between-segment sum of squares — the "when did the
    level shift" complement to ``cusum_changepoints``' sequential
    alarm. Minimizing SSE(s) is equivalent to maximizing
    f(s) = L(s)^2/n_l + R(s)^2/n_r (L/R = segment cent sums), and the
    argmax is decided EXACTLY: with P = L^2*n_r + R^2*n_l and
    N = n_l*n_r, f(s2) > f(s1) iff P2*N1 > P1*N2 — evaluated on the
    Spark side in two 10^18-base WORDS per side (P = hi*10^18 + lo;
    the cross product's words are hi*N + carry and (lo*N) mod 10^18,
    every term <= 1e34, compared lexicographically) and on the
    DuckDB side in native 128-bit HUGEINT. No float ever touches the
    decision, so the chosen day hash-matches by construction.

    Overflow envelope (r5 advice, re-derived r7): the single-tier
    cross-multiply P2*N1 in ONE word needed P*N < 1e38; the round-6
    two-tier q = P div N quotient was exact only up to q < 1e32
    (Spark decimal division keeps 32 integral digits — caught by the
    r7 boundary test, which this word-split form fixes). The word
    form's largest intermediate is hi*N <= (P/1e18)*N ~ 1e34 at a
    century calendar, so only P's own DECIMAL(38) width constrains
    scale: exact while S^2*n < 1e38, i.e. total cents
    S < sqrt(1e38/n) (~1.5e17 cents at n = 4096 days — see SCALE.md
    round-7 section for the rescaling rule beyond that).

    Scale: the only corpus-sized stage is the per-day cent-sum agg;
    prefix sums and the dominance test are O(days^2) self-joins on
    the calendar-bounded daily table (no window, no sort), the same
    stance as the diameter histogram. Output (1 row): split_day
    (last day of the left segment), n_left, n_right, sum_left_cents,
    sum_right_cents, mean_left, mean_right, delta_mean (round 6).
    """
    daily = _cut(events.filter(F.col("event_type") == "purchase").groupBy(
        F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
            "x"
        )
    ))  # day-grain; consumed by 4 branches
    tot = daily.agg(
        F.count("*").alias("n"), F.sum("x").alias("s")
    )
    pre = (
        daily.alias("a")
        .join(daily.alias("b"), F.col("b.day") <= F.col("a.day"))
        .groupBy(F.col("a.day").alias("day"))
        .agg(
            F.count("*").alias("n_l"),
            F.sum("b.x").alias("sum_l"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cand = (
        pre.crossJoin(F.broadcast(tot))
        .filter(F.col("n_l") < F.col("n"))
        .select(
            "day",
            "n_l",
            "sum_l",
            (F.col("n") - F.col("n_l")).alias("n_r"),
            (F.col("s") - F.col("sum_l")).alias("sum_r"),
        )
        .select(
            "day",
            "n_l",
            "n_r",
            "sum_l",
            "sum_r",
            (
                dec(F.col("sum_l")) * dec(F.col("sum_l"))
                * dec(F.col("n_r"))
                + dec(F.col("sum_r")) * dec(F.col("sum_r"))
                * dec(F.col("n_l"))
            ).alias("p"),
            (F.col("n_l") * F.col("n_r")).cast("decimal(14,0)").alias(
                "nn"
            ),
        )
        # exact hi/lo word split of p by the LITERAL base 10^18
        # (decimal %, then a division that is integral by
        # construction and <= 1e20 — inside Spark's decimal(38,6)
        # division cap). The round-6 q = p div nn quotient NULLed
        # for q >= 1e32 (Spark division keeps only 32 integer
        # digits), so the dominance test now cross-multiplies in
        # two exact words instead of dividing by nn at all.
        .withColumn("lo", F.col("p") % _cp_base())
        .withColumn(
            "hi",
            ((F.col("p") - F.col("lo")) / _cp_base()).cast(
                "decimal(38,0)"
            ),
        )
    )

    def _words(p_hi, p_lo, nn):
        """(hi, lo) words of (p_hi*BASE + p_lo) * nn — every term
        bounded: raw <= 1e32, carry <= 1e14, hi*nn <= 1e34."""
        raw = p_lo * nn
        rlo = raw % _cp_base()
        carry = ((raw - rlo) / _cp_base()).cast("decimal(38,0)")
        return p_hi * nn + carry, rlo

    xh, xl = _words(F.col("c2.hi"), F.col("c2.lo"), F.col("c1.nn"))
    yh, yl = _words(F.col("c1.hi"), F.col("c1.lo"), F.col("c2.nn"))
    dominated = (
        cand.alias("c1")
        .join(
            cand.alias("c2"),
            (xh > yh) | ((xh == yh) & (xl > yl)),
            "leftsemi",
        )
        .select("c1.day")
    )
    best = (
        cand.join(dominated, "day", "leftanti")
        .agg(F.min("day").alias("split_day"))
    )
    return (
        cand.join(best, F.col("day") == F.col("split_day"))
        .select(
            "split_day",
            F.col("n_l").alias("n_left"),
            F.col("n_r").alias("n_right"),
            F.col("sum_l").alias("sum_left_cents"),
            F.col("sum_r").alias("sum_right_cents"),
            F.round(
                F.col("sum_l").cast("double") / F.col("n_l"), 6
            ).alias("mean_left"),
            F.round(
                F.col("sum_r").cast("double") / F.col("n_r"), 6
            ).alias("mean_right"),
            F.round(
                F.col("sum_r").cast("double") / F.col("n_r")
                - F.col("sum_l").cast("double") / F.col("n_l"),
                6,
            ).alias("delta_mean"),
        )
    )




ORACLE_CHANGEPOINT = """
cp_d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
cp_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
  FROM cp_d
),
cp_pre AS (
  SELECT a.day, CAST(count(*) AS BIGINT) AS n_l,
         CAST(sum(b.x) AS BIGINT) AS sum_l
  FROM cp_d a JOIN cp_d b ON b.day <= a.day
  GROUP BY 1
),
cp_cand AS MATERIALIZED (
  SELECT day, n_l, n_r, sum_l, sum_r, p, nn,
         p // nn AS q, p % nn AS r
  FROM (
    SELECT day, n_l, t.n - n_l AS n_r, sum_l, t.s - sum_l AS sum_r,
           CAST(sum_l AS HUGEINT) * sum_l * (t.n - n_l)
             + CAST(t.s - sum_l AS HUGEINT) * (t.s - sum_l) * n_l
             AS p,
           CAST(n_l AS HUGEINT) * (t.n - n_l) AS nn
    FROM cp_pre, cp_tot t
    WHERE n_l < t.n
  )
),
cp_best AS (
  SELECT min(day) AS split_day
  FROM cp_cand c1
  WHERE NOT EXISTS (
    SELECT 1 FROM cp_cand c2
    WHERE c2.q > c1.q
       OR (c2.q = c1.q AND c2.r * c1.nn > c1.r * c2.nn))
),
events_changepoint AS (
  SELECT b.split_day,
         c.n_l AS n_left, c.n_r AS n_right,
         c.sum_l AS sum_left_cents, c.sum_r AS sum_right_cents,
         round(CAST(c.sum_l AS DOUBLE) / c.n_l, 6) AS mean_left,
         round(CAST(c.sum_r AS DOUBLE) / c.n_r, 6) AS mean_right,
         round(CAST(c.sum_r AS DOUBLE) / c.n_r
               - CAST(c.sum_l AS DOUBLE) / c.n_l, 6) AS delta_mean
  FROM cp_best b JOIN cp_cand c ON c.day = b.split_day
)
"""




# ---------------------------------------------------------------------------
# SPRT sequential conversion monitor (Wald boundaries)
# ---------------------------------------------------------------------------

#: SPRT hypotheses and error rates: is the purchase share among
#: click/purchase events p0 (null) or p1 (alternative)? The four
#: log-constants are computed ONCE in Python and injected as
#: identical double literals into both engines, so the per-day LLR
#: is bitwise-identical IEEE arithmetic on exact integer counts — no
#: cross-engine ln() ever runs.
SPRT_P0 = 0.25


SPRT_P1 = 0.30


SPRT_ALPHA = 0.05


SPRT_BETA = 0.20


SPRT_L1 = math.log(SPRT_P1 / SPRT_P0)


SPRT_L0 = math.log((1 - SPRT_P1) / (1 - SPRT_P0))


SPRT_UPPER = math.log((1 - SPRT_BETA) / SPRT_ALPHA)


SPRT_LOWER = math.log(SPRT_BETA / (1 - SPRT_ALPHA))




def sprt_monitor(events: DataFrame) -> DataFrame:
    """Wald's sequential probability ratio test as a daily monitor:
    each click/purchase event is a Bernoulli trial (success =
    purchase), and the cumulative log-likelihood ratio
    llr = S*ln(p1/p0) + (N-S)*ln(q1/q0) is checked daily against the
    Wald boundaries ln((1-beta)/alpha) / ln(beta/(1-alpha)) — the
    always-valid sequential sibling of the fixed-horizon
    `conversion_ztest` and the group-sequential OBF plan (SPRT stops
    the moment the evidence suffices, with both error rates
    controlled by construction).

    Exactness: daily (n, s) are integers; the ln constants are
    Python-computed double literals injected identically into both
    engines, so llr is the same two IEEE multiplies and one add
    everywhere — no engine libm in the plan. Cumulative counts come
    from a bounded day x day prefix self-join (calendar grain, the
    changepoint convention — no window).

    Output per day: day, n_cum, s_cum, llr (round 6), decision
    ('accept_h1' / 'accept_h0' / 'continue').
    """
    daily = _cut(events.filter(
        F.col("event_type").isin("click", "purchase")
    ).groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("s"),
    ))
    cum = (
        daily.alias("a")
        .join(daily.alias("b"), F.col("b.day") <= F.col("a.day"))
        .groupBy(F.col("a.day").alias("day"))
        .agg(
            F.sum("b.n").alias("n_cum"),
            F.sum("b.s").alias("s_cum"),
        )
    )
    llr = F.col("s_cum") * F.lit(SPRT_L1) + (
        F.col("n_cum") - F.col("s_cum")
    ) * F.lit(SPRT_L0)
    return cum.select(
        "day",
        "n_cum",
        "s_cum",
        F.round(llr, 6).alias("llr"),
        F.when(llr >= F.lit(SPRT_UPPER), F.lit("accept_h1"))
        .when(llr <= F.lit(SPRT_LOWER), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )




ORACLE_SPRT = f"""
sprt_d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                  END) AS BIGINT) AS s
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1
),
sprt_c AS (
  SELECT a.day, CAST(sum(b.n) AS BIGINT) AS n_cum,
         CAST(sum(b.s) AS BIGINT) AS s_cum
  FROM sprt_d a JOIN sprt_d b ON b.day <= a.day
  GROUP BY 1
),
sprt_monitor AS (
  SELECT day, n_cum, s_cum,
         round(s_cum * CAST({SPRT_L1!r} AS DOUBLE)
               + (n_cum - s_cum) * CAST({SPRT_L0!r} AS DOUBLE), 6)
           AS llr,
         CASE WHEN s_cum * CAST({SPRT_L1!r} AS DOUBLE)
                   + (n_cum - s_cum) * CAST({SPRT_L0!r} AS DOUBLE)
                   >= CAST({SPRT_UPPER!r} AS DOUBLE)
              THEN 'accept_h1'
              WHEN s_cum * CAST({SPRT_L1!r} AS DOUBLE)
                   + (n_cum - s_cum) * CAST({SPRT_L0!r} AS DOUBLE)
                   <= CAST({SPRT_LOWER!r} AS DOUBLE)
              THEN 'accept_h0'
              ELSE 'continue' END AS decision
  FROM sprt_c
)
"""




# ---------------------------------------------------------------------------
# Grubbs extreme-studentized-deviate screen (round 7)
# ---------------------------------------------------------------------------


def grubbs_extreme(events: DataFrame) -> DataFrame:
    """Grubbs-style extreme studentized deviate of the daily
    purchase-revenue series: G = max|x - xbar| / s — "is the single
    most extreme day statistically surprising", the one-point
    complement to the windowed Hampel/MAD screens. The exact Grubbs
    critical value is a t-quantile in n (engine-ulp territory, like
    the DFT's trig basis — deliberately not reproduced); the emitted
    flag is the practitioners' G > 3 three-sigma screen, with G
    itself exact-to-rounding for any downstream table lookup.

    The extreme day is selected by EXACT integer comparison: the
    n-scaled deviation |x*n - S| is a BIGINT-in-DECIMAL, the max is
    integral, and ties break to the earliest day (min day at the max
    — deterministic in both engines, no arg_max tie ambiguity).
    G = maxdev * sqrt((n-1) / (n * (n*Q - S^2))) assembles in doubles
    only at the end, rounded 6 dp.

    One day collapse + one broadcast re-scan of the day table.
    Output (1 row): n_days, extreme_day, extreme_cents, g_stat,
    exceeds_three_sigma.
    """
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    daily = _cut(
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.round(F.col("value") * 100, 0).cast("bigint")
            ).alias("x")
        )
    )  # day-grain; read twice
    m = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("q"),
    )
    dev = daily.crossJoin(F.broadcast(m)).select(
        "day",
        "x",
        "n",
        "s",
        "q",
        F.abs(dec(F.col("x")) * dec(F.col("n")) - dec(F.col("s"))).alias(
            "dn"
        ),
    )
    mx = dev.groupBy().agg(F.max("dn").alias("mx"))
    # the (day, cents) pair must come from ONE row: min_by on day
    # keeps the earliest tied max-deviation day's own revenue
    # (independent min(day)/min(x) could pair day A with day B's
    # cents when two days tie — review finding); day is unique at
    # this grain, so min_by is deterministic in both engines.
    ext = (
        dev.join(F.broadcast(mx), F.col("dn") == F.col("mx"))
        .groupBy("n", "s", "q", "mx")
        .agg(
            F.min("day").alias("extreme_day"),
            F.expr("min_by(x, day)").alias("extreme_cents"),
        )
    )
    nd = F.col("n").cast("double")
    den = (
        dec(F.col("n")) * F.col("q")
        - dec(F.col("s")) * dec(F.col("s"))
    ).cast("double")
    g = F.round(
        F.col("mx").cast("double") * F.sqrt((nd - 1) / (nd * den)), 6
    )
    return ext.select(
        F.col("n").alias("n_days"),
        "extreme_day",
        "extreme_cents",
        g.alias("g_stat"),
        (g > 3.0).alias("exceeds_three_sigma"),
    )




ORACLE_GRUBBS = """
gr_d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
gr_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
  FROM gr_d
),
gr_dev AS (
  SELECT d.day, d.x, m.n, m.s, m.q,
         abs(CAST(d.x AS HUGEINT) * m.n - m.s) AS dn
  FROM gr_d d, gr_m m
),
gr_mx AS (SELECT max(dn) AS mx FROM gr_dev),
grubbs_extreme AS (
  SELECT n AS n_days,
         min(day) AS extreme_day,
         arg_min(x, day) AS extreme_cents,
         round(CAST(mx AS DOUBLE)
               * sqrt((CAST(n AS DOUBLE) - 1)
                      / (CAST(n AS DOUBLE)
                         * CAST(n * q - CAST(s AS HUGEINT) * s
                                AS DOUBLE))), 6) AS g_stat,
         round(CAST(mx AS DOUBLE)
               * sqrt((CAST(n AS DOUBLE) - 1)
                      / (CAST(n AS DOUBLE)
                         * CAST(n * q - CAST(s AS HUGEINT) * s
                                AS DOUBLE))), 6) > 3.0
           AS exceeds_three_sigma
  FROM gr_dev JOIN gr_mx ON dn = mx
  GROUP BY n, s, q, mx
)
"""




# ---------------------------------------------------------------------------
# p-chart attribute control chart (round 7)
# ---------------------------------------------------------------------------


def error_pchart(events: DataFrame) -> DataFrame:
    """Shewhart p-chart of the daily ERROR-event fraction: center
    line pbar = total errors / total events, per-day 3-sigma
    binomial limits UCL/LCL = pbar +- 3*sqrt(pbar(1-pbar)/n_t) (LCL
    clamped at 0), and the out-of-control flag — the attribute-chart
    member of the SPC family beside CUSUM (drift) and EWMA (small
    sustained shifts): the p-chart catches single-day blowups in a
    RATE whose daily denominator varies.

    All counts are exact BIGINTs from one day-grain agg; p, the
    limits and the flag are one mirrored double chain per day row,
    with the flag comparing the 6-dp ROUNDED p against the 6-dp
    ROUNDED limits (the JSD guard convention — both engines compare
    identical literals).

    One corpus pass; day-grain output. Output per day: day, n_events,
    n_errors, p, ucl, lcl, out_of_control.
    """
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("event_type") == "error").cast("bigint")
        ).alias("e"),
    )
    return pchart_from_daily(daily)




def pchart_from_daily(daily: DataFrame) -> DataFrame:
    """p-chart assembly from a day-grain (day, n, e) frame — shared
    by the batch op and the streaming twin (whose standing state IS
    this frame, merged additively across micro-batches)."""
    tot = daily.agg(
        F.sum("n").alias("tn"), F.sum("e").alias("te")
    )
    j = daily.crossJoin(F.broadcast(tot))
    pbar = F.col("te").cast("double") / F.col("tn").cast("double")
    se = F.sqrt(pbar * (1 - pbar) / F.col("n").cast("double"))
    p = F.round(F.col("e").cast("double") / F.col("n").cast("double"), 6)
    ucl = F.round(pbar + 3 * se, 6)
    lcl = F.round(F.greatest(pbar - 3 * se, F.lit(0.0)), 6)
    return j.select(
        "day",
        F.col("n").alias("n_events"),
        F.col("e").alias("n_errors"),
        p.alias("p"),
        ucl.alias("ucl"),
        lcl.alias("lcl"),
        ((p > ucl) | (p < lcl)).alias("out_of_control"),
    )




ORACLE_PCHART = """
pc_d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS e
  FROM events GROUP BY 1
),
pc_t AS (
  SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(e) AS BIGINT) AS te
  FROM pc_d
),
error_pchart AS (
  SELECT day, n AS n_events, e AS n_errors,
         round(CAST(e AS DOUBLE) / n, 6) AS p,
         round(CAST(te AS DOUBLE) / tn
               + 3 * sqrt((CAST(te AS DOUBLE) / tn)
                          * (1 - CAST(te AS DOUBLE) / tn) / n), 6)
           AS ucl,
         round(greatest(CAST(te AS DOUBLE) / tn
               - 3 * sqrt((CAST(te AS DOUBLE) / tn)
                          * (1 - CAST(te AS DOUBLE) / tn) / n),
               0.0), 6) AS lcl,
         (round(CAST(e AS DOUBLE) / n, 6)
            > round(CAST(te AS DOUBLE) / tn
                    + 3 * sqrt((CAST(te AS DOUBLE) / tn)
                               * (1 - CAST(te AS DOUBLE) / tn) / n),
                    6))
         OR (round(CAST(e AS DOUBLE) / n, 6)
            < round(greatest(CAST(te AS DOUBLE) / tn
                    - 3 * sqrt((CAST(te AS DOUBLE) / tn)
                               * (1 - CAST(te AS DOUBLE) / tn) / n),
                    0.0), 6)) AS out_of_control
  FROM pc_d, pc_t
)
"""




# ---------------------------------------------------------------------------
# histogram-based outlier score (round 8)
# ---------------------------------------------------------------------------

HBOS_TOP_K = 20




def hbos_outliers(events: DataFrame) -> DataFrame:
    """HBOS (Goldstein & Dengel 2012) over three bounded-grain event
    features — hour-of-day (24 bins), day-of-week (7), and the
    sign-safe value octave (<= ~48 bins, the `ranking.value_prefix`
    bucket law): score = sum_f -ln p_f(x), i.e. an event is anomalous when it
    sits in RARE bins of several independent histograms at once. This
    is the histogram sibling of the shipped outlier family (MAD =
    per-key deviation, kNN/density = geometry, DBSCAN noise =
    connectivity): HBOS is the one that needs NO pairwise structure at
    all, which is why it is the standard first-pass screen at
    data-lake scale.

    Determinism: every histogram count is an exact BIGINT, and the
    score collapses to 3 ln N - ln(n_h * n_d * n_v) — one ln of an
    exact integer per event, identical doubles cross-engine (no
    accumulated float sums). Top-{k} by (rounded score DESC,
    event_id) is fully tie-broken.

    Scale: three bounded-grain hash-aggs (24 + 7 + ~48 rows)
    broadcast back onto the fact scan — one pass, zero shuffles wider
    than the histograms; the top-k is a local-then-global limit.
    Output: event_id, user_id, hour, dow, voct, score.
    """
    c = F.round(F.col("value") * 100, 0).cast("bigint")
    voct = (
        F.when(c >= 0, F.floor(F.log2(c + 1)))
        .otherwise(-1 - F.floor(F.log2(-c)))
        .cast("bigint")
    )
    base = events.filter(F.col("value").isNotNull()).select(
        "event_id",
        "user_id",
        F.hour("ts").alias("hour"),
        F.dayofweek("ts").alias("dow"),
        voct.alias("voct"),
    )
    hh = base.groupBy("hour").agg(F.count("*").alias("n_h"))
    dd = base.groupBy("dow").agg(F.count("*").alias("n_d"))
    vv = base.groupBy("voct").agg(F.count("*").alias("n_v"))
    tot = base.agg(F.count("*").alias("n"))
    scored = (
        base.join(F.broadcast(hh), "hour")
        .join(F.broadcast(dd), "dow")
        .join(F.broadcast(vv), "voct")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_id",
            "user_id",
            "hour",
            "dow",
            "voct",
            F.round(
                3 * F.log(F.col("n").cast("double"))
                - F.log(
                    (
                        F.col("n_h") * F.col("n_d") * F.col("n_v")
                    ).cast("double")
                ),
                6,
            ).alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), "event_id").limit(
        HBOS_TOP_K
    )




hbos_outliers.__doc__ = hbos_outliers.__doc__.format(k=HBOS_TOP_K)



ORACLE_HBOS = f"""
hb_base AS (
  SELECT event_id, user_id,
         hour(ts) AS hour, dayofweek(ts) + 1 AS dow,
         CASE WHEN CAST(round(value * 100, 0) AS BIGINT) >= 0
              THEN CAST(floor(log2(CAST(round(value * 100, 0)
                                        AS BIGINT) + 1)) AS BIGINT)
              ELSE CAST(-1 - floor(log2(-CAST(round(value * 100, 0)
                                              AS BIGINT))) AS BIGINT)
         END AS voct
  FROM events WHERE value IS NOT NULL
),
hb_h AS (SELECT hour, CAST(count(*) AS BIGINT) AS n_h
         FROM hb_base GROUP BY 1),
hb_d AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_d
         FROM hb_base GROUP BY 1),
hb_v AS (SELECT voct, CAST(count(*) AS BIGINT) AS n_v
         FROM hb_base GROUP BY 1),
hb_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hb_base),
hb_scored AS (
  SELECT b.event_id, b.user_id, b.hour, b.dow, b.voct,
         round(3 * ln(CAST(n.n AS DOUBLE))
               - ln(CAST(h.n_h * d.n_d * v.n_v AS DOUBLE)), 6)
           AS score
  FROM hb_base b
  JOIN hb_h h USING (hour) JOIN hb_d d USING (dow)
  JOIN hb_v v USING (voct) CROSS JOIN hb_n n
),
events_hbos_outliers AS (
  SELECT event_id, user_id, hour, dow, voct, score
  FROM hb_scored
  ORDER BY score DESC, event_id LIMIT {HBOS_TOP_K}
)
"""




# ---------------------------------------------------------------------------
# EWMA control chart (round 8)
# ---------------------------------------------------------------------------

EWMA_CHART_LAMBDA = 0.2


EWMA_CHART_L = 3.0




def ewma_chart(events: DataFrame) -> DataFrame:
    """EWMA control chart over the gap-filled daily purchase-revenue
    series (Roberts 1959 / the SPC standard for SMALL mean shifts —
    the p-chart catches proportion jumps, Shewhart-style MAD/z flags
    single spikes; the EWMA chart is the one that fires on a slow
    drift no single day trips): z_t = 0.2 x_t + 0.8 z_{t-1} seeded at
    the series mean, with time-varying limits mu ± 3 sigma
    sqrt(lam/(2-lam) (1-(1-lam)^{2t})).

    Cross-engine protocol: x_t are exact integers (floor-scaled cents
    sums; zero-revenue days are real observations via the calendar
    spine), mu/sigma come from exact moment sums, and BOTH recursions
    — the EWMA itself and the (1-lam)^{2t} power (carried as w_t =
    0.64 w_{t-1}, never pow(), whose last-ulp behavior differs across
    libm implementations) — replay as the same literal multiply-add
    chain: a packed day-sorted array fold here, a depth-T recursive
    CTE in the oracle.

    Scale: one day-grain hash-agg + a calendar-bounded fold (the
    periodogram/Bass argument). Output per day: d, x, z, ucl, lcl,
    out_of_control.
    """
    pd_ = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.expr(
                    f"CAST(floor(value * {AR2_VAL_SCALE}) AS BIGINT)"
                )
            ).alias("x")
        )
    )
    bounds = pd_.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = bounds.select(
        F.explode(F.expr("sequence(d0, d1)")).alias("day"), "d0"
    )
    daily = cal.join(pd_, "day", "left").select(
        F.datediff("day", "d0").cast("bigint").alias("d"),
        F.coalesce("x", F.lit(0)).cast("bigint").alias("x"),
    )
    packed = daily.agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("s"),
        F.count("*").alias("t"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    tn = F.col("t").cast("double")
    mu = F.col("sx").cast("double") / tn
    sig = F.sqrt(
        (
            F.col("sx2").cast("double")
            - F.col("sx").cast("double")
            * F.col("sx").cast("double")
            / tn
        )
        / (tn - 1)
    )
    lam, om = EWMA_CHART_LAMBDA, 1 - EWMA_CHART_LAMBDA
    om2 = om * om
    base = packed.select(
        "s", mu.alias("mu"), sig.alias("sig")
    )
    rows = base.select(
        "mu",
        "sig",
        F.explode(
            F.expr(
                "aggregate(s,"
                " named_struct('z', mu, 'w', cast(1.0 as double),"
                "  'arr', cast(array() as"
                "   array<struct<d:bigint,x:bigint,z:double,w:double>>)),"
                f" (acc, e) -> named_struct("
                f"  'z', {lam}D * e.x + {om}D * acc.z,"
                f"  'w', acc.w * {om2}D,"
                "   'arr', concat(acc.arr, array(named_struct("
                "    'd', e.d, 'x', e.x,"
                f"   'z', {lam}D * e.x + {om}D * acc.z,"
                f"   'w', acc.w * {om2}D)))),"
                " acc -> acc.arr)"
            )
        ).alias("r"),
    )
    half = (
        F.lit(EWMA_CHART_L)
        * F.col("sig")
        * F.sqrt(
            F.lit(lam / (2 - lam)) * (F.lit(1.0) - F.col("r.w"))
        )
    )
    z6 = F.round("r.z", 6)
    ucl = F.round(F.col("mu") + half, 6)
    lcl = F.round(F.col("mu") - half, 6)
    return rows.select(
        F.col("r.d").alias("d"),
        F.col("r.x").alias("x"),
        z6.alias("z"),
        ucl.alias("ucl"),
        lcl.alias("lcl"),
        ((z6 > ucl) | (z6 < lcl)).alias("out_of_control"),
    )




ORACLE_EWMA_CHART = f"""
ewc_d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(value * {AR2_VAL_SCALE}) AS BIGINT))
              AS BIGINT) AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
ewc_b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ewc_d),
ewc_cal AS (
  SELECT CAST(u.day AS DATE) AS day, b.d0
  FROM ewc_b b, unnest(generate_series(CAST(b.d0 AS TIMESTAMP),
                                       CAST(b.d1 AS TIMESTAMP),
                                       INTERVAL 1 DAY)) AS u(day)
),
ewc_daily AS (
  SELECT CAST(date_diff('day', c.d0, c.day) AS BIGINT) AS d,
         CAST(coalesce(p.x, 0) AS BIGINT) AS x
  FROM ewc_cal c LEFT JOIN ewc_d p USING (day)
),
ewc_m AS (
  SELECT CAST(count(*) AS BIGINT) AS t, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sx2
  FROM ewc_daily
),
ewc_mu AS (
  SELECT CAST(sx AS DOUBLE) / t AS mu,
         sqrt((CAST(sx2 AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                 / CAST(t AS DOUBLE))
              / (CAST(t AS DOUBLE) - 1)) AS sig
  FROM ewc_m
),
ewc_rec AS (
  SELECT CAST(-1 AS BIGINT) AS d, CAST(0 AS BIGINT) AS x,
         mu AS z, CAST(1.0 AS DOUBLE) AS w
  FROM ewc_mu
  UNION ALL
  SELECT e.d, e.x,
         CAST({EWMA_CHART_LAMBDA} AS DOUBLE) * e.x
           + CAST({1 - EWMA_CHART_LAMBDA} AS DOUBLE) * r.z,
         r.w * CAST({(1 - EWMA_CHART_LAMBDA) ** 2} AS DOUBLE)
  FROM ewc_rec r JOIN ewc_daily e ON e.d = r.d + 1
),
events_ewma_chart AS (
  SELECT r.d, r.x, round(r.z, 6) AS z,
         round(m.mu + {EWMA_CHART_L} * m.sig
               * sqrt({EWMA_CHART_LAMBDA / (2 - EWMA_CHART_LAMBDA)}
                      * (CAST(1.0 AS DOUBLE) - r.w)), 6) AS ucl,
         round(m.mu - {EWMA_CHART_L} * m.sig
               * sqrt({EWMA_CHART_LAMBDA / (2 - EWMA_CHART_LAMBDA)}
                      * (CAST(1.0 AS DOUBLE) - r.w)), 6) AS lcl,
         round(r.z, 6) > round(m.mu + {EWMA_CHART_L} * m.sig
               * sqrt({EWMA_CHART_LAMBDA / (2 - EWMA_CHART_LAMBDA)}
                      * (CAST(1.0 AS DOUBLE) - r.w)), 6)
         OR round(r.z, 6) < round(m.mu - {EWMA_CHART_L} * m.sig
               * sqrt({EWMA_CHART_LAMBDA / (2 - EWMA_CHART_LAMBDA)}
                      * (CAST(1.0 AS DOUBLE) - r.w)), 6)
           AS out_of_control
  FROM ewc_rec r CROSS JOIN ewc_mu m
  WHERE r.d >= 0
)
"""



# ---------------------------------------------------------------------------
# Kleinberg burst detection (r9): the two-state optimal state sequence
# over the daily arrival series (Kleinberg 2002, batched variant) —
# "which days belong to a burst" with hysteresis, unlike a per-day
# threshold which flickers. The canonical event-stream / topic-burst
# mining primitive.
# ---------------------------------------------------------------------------

#: burst-state rate multiplier B (state 1 fires at B x the base rate).
BURST_B = 2
#: ln(B) evaluated once in Python and shared verbatim by both engines
#: (the packed-trig/literal protocol — no query-time ln).
_BURST_LN_B = 0.6931471805599453
#: integer cost scale (micro-units).
BURST_SCALE = 1_000_000
#: cost of ENTERING the burst state, in micro-units (the hysteresis).
BURST_TRANS_MICRO = 2_000_000


def burst_detection(events: DataFrame) -> DataFrame:
    """Two-state Viterbi burst segmentation of daily event counts.

    Poisson cost difference between the burst state (rate B·mu) and
    the base state (rate mu) for a day with n events is
    (B−1)·mu − n·ln B (the ln n! and mu-only terms cancel), so with
    ln B a shared literal and mu one exact double division, every
    per-day cost quantizes to an IDENTICAL integer in both engines —
    the whole DP is BIGINT arithmetic with a deterministic tie rule
    (prefer the base state, then staying). The decision string rides
    through the fold exactly like the unigram Viterbi; no backtrack
    pass. Output per day: day, n_events, in_burst.

    Scale: one day collapse (the corpus-sized stage), one 1-row
    global fold over the bounded calendar array (the LRU/DTW packed-
    array kernel), one posexplode back to day grain.
    """
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("c")
    )
    span = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = span.select(
        F.explode(F.expr("sequence(d0, d1)")).alias("day")
    )
    filled = cal.join(daily, "day", "left").select(
        "day", F.coalesce("c", F.lit(0)).alias("c")
    )
    packed = filled.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct("day", "c"))
        ).alias("xs"),
        F.sum("c").alias("total"),
        F.count("*").alias("n_days"),
    )
    # per-day burst-vs-base cost in micro-units, as BIGINT
    mu = F.col("total").cast("double") / F.col("n_days").cast("double")
    dp = F.expr(
        f"""
        aggregate(
          xs,
          named_struct(
            'c0', cast(0 as bigint), 's0', '',
            'c1', cast({BURST_TRANS_MICRO} as bigint), 's1', ''),
          (acc, x) -> named_struct(
            'c0', least(acc.c0, acc.c1),
            's0', concat(
              CASE WHEN acc.c0 <= acc.c1 THEN acc.s0 ELSE acc.s1 END,
              '0'),
            'c1', least(acc.c0 + {BURST_TRANS_MICRO}, acc.c1)
                  + cast(round({BURST_SCALE}d * (
                      ({BURST_B} - 1) * (cast(total as double)
                                         / cast(n_days as double))
                      - x.c * {_BURST_LN_B}d), 0) as bigint),
            's1', concat(
              CASE WHEN acc.c0 + {BURST_TRANS_MICRO} <= acc.c1
                   THEN acc.s0 ELSE acc.s1 END,
              '1')),
          acc -> CASE WHEN acc.c0 <= acc.c1 THEN acc.s0 ELSE acc.s1 END)
        """
    )
    seq = packed.select("xs", dp.alias("states"))
    per_day = seq.select(
        F.posexplode("xs").alias("i", "x"), "states"
    ).select(
        F.col("x.day").alias("day"),
        F.col("x.c").alias("n_events"),
        (F.expr("substring(states, i + 1, 1)") == "1").alias(
            "in_burst"
        ),
    )
    return per_day


ORACLE_BURSTS = f"""
bu_daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
bu_cal AS (
  SELECT unnest(generate_series(
    (SELECT min(day) FROM bu_daily),
    (SELECT max(day) FROM bu_daily),
    INTERVAL 1 DAY))::DATE AS day
),
bu_f AS (
  SELECT row_number() OVER (ORDER BY k.day) AS i, k.day,
         COALESCE(d.c, 0) AS c
  FROM bu_cal k LEFT JOIN bu_daily d USING (day)
),
bu_tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_days
  FROM bu_f
),
bu_cost AS (
  SELECT i, day, c,
         CAST(round({BURST_SCALE} * (
           ({BURST_B} - 1) * (CAST(total AS DOUBLE)
                              / CAST(n_days AS DOUBLE))
           - c * CAST({_BURST_LN_B} AS DOUBLE)), 0) AS BIGINT) AS bc
  FROM bu_f CROSS JOIN bu_tot
),
bu_dp(i, c0, s0, c1, s1) AS (
  SELECT 0, CAST(0 AS BIGINT), '',
         CAST({BURST_TRANS_MICRO} AS BIGINT), ''
  UNION ALL
  SELECT f.i,
         CAST(least(d.c0, d.c1) AS BIGINT),
         (CASE WHEN d.c0 <= d.c1 THEN d.s0 ELSE d.s1 END) || '0',
         CAST(least(d.c0 + {BURST_TRANS_MICRO}, d.c1) + f.bc
              AS BIGINT),
         (CASE WHEN d.c0 + {BURST_TRANS_MICRO} <= d.c1
               THEN d.s0 ELSE d.s1 END) || '1'
  FROM bu_dp d JOIN bu_cost f ON f.i = d.i + 1
),
bu_best AS (
  SELECT CASE WHEN c0 <= c1 THEN s0 ELSE s1 END AS states
  FROM bu_dp WHERE i = (SELECT n_days FROM bu_tot)
),
events_bursts AS (
  SELECT f.day, f.c AS n_events,
         substr(b.states, CAST(f.i AS INT), 1) = '1' AS in_burst
  FROM bu_f f CROSS JOIN bu_best b
)
"""
