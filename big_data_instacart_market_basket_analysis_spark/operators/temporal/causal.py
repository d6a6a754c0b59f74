"""[EXT] Experimentation & causal inference: A/B reports, power, uplift, attribution models.

Split from the monolithic ``operators/temporal.py`` (r8 verdict task 2); see the package ``__init__`` for provenance. All docstring citations to the reference (F.py) are preserved on the operators themselves.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ...sources.loaders import local_rows

from big_data_instacart_market_basket_analysis_spark.operators import (
    ranking as _rank,
)
from .._staging import cut as _cut



# ---------------------------------------------------------------------------
# A/B experiment analysis
# ---------------------------------------------------------------------------

#: deterministic variant assignment: user_id parity (production would
#: hash a salt+user key; the analysis plan is identical).
AB_METRIC_TYPE = "purchase"




def ab_test_report(events: DataFrame) -> DataFrame:
    """A/B experiment readout: users split into two variants by key
    parity, per-user purchase totals as the metric, and the two-sample
    Welch z statistic on the variant means — the standard experiment
    dashboard row.

    Two hash-aggs: user grain (uniform key), then variant grain (2
    groups, conditional aggregation folds both variants into one
    pass). The z-score arithmetic runs on the ALREADY-ROUNDED moments
    so both engines divide identical inputs. At 100 TB nothing
    changes: per-user state is one partial sum, the variant rollup is
    2 rows.
    """
    per_user = (
        events.filter(F.col("event_type") == AB_METRIC_TYPE)
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 4).alias("user_total"))
        .withColumn("variant", (F.col("user_id") % 2).cast("int"))
    )
    g = per_user.groupBy().agg(
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
    return g.select(
        "n0",
        "n1",
        "mean0",
        "mean1",
        F.round(F.col("mean1") - F.col("mean0"), 6).alias("lift"),
        F.round(
            (F.col("mean1") - F.col("mean0"))
            / F.sqrt(F.col("var0") / F.col("n0") + F.col("var1") / F.col("n1")),
            6,
        ).alias("welch_z"),
    )




ORACLE_AB_TEST = f"""
ab_user AS (
  SELECT user_id,
         round(sum(value), 4) AS user_total,
         CAST(user_id % 2 AS INTEGER) AS variant
  FROM events WHERE event_type = '{AB_METRIC_TYPE}'
  GROUP BY user_id
),
ab_g AS (
  SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n0,
         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n1,
         round(avg(CASE WHEN variant = 0 THEN user_total END), 6)
           AS mean0,
         round(avg(CASE WHEN variant = 1 THEN user_total END), 6)
           AS mean1,
         round(var_samp(CASE WHEN variant = 0 THEN user_total END), 6)
           AS var0,
         round(var_samp(CASE WHEN variant = 1 THEN user_total END), 6)
           AS var1
  FROM ab_user
),
ab_test AS (
  SELECT n0, n1, mean0, mean1,
         round(mean1 - mean0, 6) AS lift,
         round((mean1 - mean0)
               / NULLIF(sqrt(var0 / NULLIF(n0, 0)
                             + var1 / NULLIF(n1, 0)), 0), 6) AS welch_z
  FROM ab_g
)
"""




#: attribution lookback (ms): clicks within this window before a
#: purchase share its value equally.
ATTR_WINDOW_MS = 3_600_000




def linear_attribution(events: DataFrame) -> DataFrame:
    """Linear multi-touch attribution: every purchase distributes its
    value EQUALLY across the same user's clicks in the preceding hour;
    a click's attributed revenue is the sum of its shares across all
    purchases it assisted. The canonical marketing-attribution rollup.

    Plan: the purchase-click pairing is the bounded range join —
    per-user equi-join on (user_id, hour bucket in {h-1, h}) then the
    exact window filter, so candidates are bounded per bucket, never
    per user history. The per-purchase assist count is one hash-agg on
    the purchase key (same shuffle family), credit is row-local
    integer-count division of the pre-rounded value, and the final
    per-click rollup sums credits. Click keys with zero assists simply
    don't appear (production would left-join the click dim back).
    """
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.unix_millis("ts").alias("p_ms"),
        F.round("value", 4).alias("p_value"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.unix_millis("ts").alias("c_ms"),
    )
    p_b = purchases.withColumn(
        "bucket",
        F.explode(
            F.array(
                (F.col("p_ms") / ATTR_WINDOW_MS).cast("bigint") - 1,
                (F.col("p_ms") / ATTR_WINDOW_MS).cast("bigint"),
            )
        ),
    )
    c_b = clicks.withColumn(
        "bucket", (F.col("c_ms") / ATTR_WINDOW_MS).cast("bigint")
    )
    # the explode gives two bucket rows per purchase; equi-join on the
    # bucket, exact window as the join residual
    pairs = p_b.join(c_b, ["bucket"]).filter(
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ms") <= F.col("p_ms"))
        & (F.col("p_ms") - F.col("c_ms") < ATTR_WINDOW_MS)
    )
    w = Window.partitionBy("p_id")
    credited = pairs.withColumn("n_assists", F.count("*").over(w)).select(
        "c_id",
        (F.col("p_value") / F.col("n_assists")).alias("credit"),
    )
    return credited.groupBy(F.col("c_id").alias("click_id")).agg(
        F.round(F.sum("credit"), 4).alias("attributed_value"),
        F.count("*").alias("n_purchases_assisted"),
    )




ORACLE_LINEAR_ATTRIBUTION = f"""
la_pairs AS (
  SELECT c.event_id AS c_id, p.event_id AS p_id,
         round(p.value, 4) AS p_value
  FROM events p
  JOIN events c
    ON p.user_id = c.user_id
   AND c.event_type = 'click'
   AND epoch_ms(c.ts) <= epoch_ms(p.ts)
   AND epoch_ms(p.ts) - epoch_ms(c.ts) < {ATTR_WINDOW_MS}
  WHERE p.event_type = 'purchase'
),
la_credit AS (
  SELECT c_id,
         p_value / count(*) OVER (PARTITION BY p_id) AS credit
  FROM la_pairs
),
linear_attribution AS (
  SELECT c_id AS click_id,
         round(sum(credit), 4) AS attributed_value,
         CAST(count(*) AS BIGINT) AS n_purchases_assisted
  FROM la_credit
  GROUP BY c_id
)
"""




# ---------------------------------------------------------------------------
# multi-touch attribution (first / last / linear credit)
# ---------------------------------------------------------------------------

MTA_WINDOW_MS = 24 * 3600 * 1000




def attribution_report(events: DataFrame) -> DataFrame:
    """Multi-touch attribution: every purchase's journey is the same
    user's click/view touches in the 24h before it; credit is split
    by the four standard models — first_touch (all credit to the
    earliest touch), last_touch (latest), linear (1/k each),
    time_decay (weight halves every 6h of touch age: w = 2^-bucket,
    an exact DYADIC rational so the double sums are engine-exact,
    normalized per journey) — plus an 'unattributed' row for
    purchases with no preceding touch.

    Plan: purchases x touches is a per-user time-range join (bounded
    by a user's touches per day, never corpus-quadratic; the user_id
    shuffle key is uniform), then ONE window over each purchase's
    journey ranks first/last and counts k, and one hash-agg per model
    folds credit per channel. Millis integer arithmetic end-to-end;
    the only float is the linear 1/k fraction, rounded at the output
    edge (values O(1) — fold noise never reaches 4dp).

    Output: model, channel, touches, credit (round 4).
    """
    base = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis("ts").alias("ms"),
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("pid"),
        F.col("ms").alias("pms"),
    )
    touches = base.filter(
        F.col("event_type").isin("click", "view")
    ).select(
        "user_id",
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("channel"),
        F.col("ms").alias("tms"),
    )
    journeys = purchases.join(touches, "user_id").filter(
        (F.col("tms") < F.col("pms"))
        & (F.col("tms") >= F.col("pms") - MTA_WINDOW_MS)
    )
    wp = Window.partitionBy("pid")
    # time-decay weight: halves per 6h age bucket — 2^-b is an exact
    # dyadic, so per-journey totals are exact and shares deterministic
    decay_w = F.lit(1.0) / F.expr(
        f"CAST(pow(2, (pms - tms) DIV {6 * 3600 * 1000}) AS DOUBLE)"
    )
    ranked = journeys.select(
        "pid",
        "channel",
        F.row_number()
        .over(wp.orderBy("tms", "tid"))
        .alias("rn_first"),
        F.row_number()
        .over(wp.orderBy(F.col("tms").desc(), F.col("tid").desc()))
        .alias("rn_last"),
        F.count("*").over(wp).alias("k"),
        decay_w.alias("w"),
        F.sum(decay_w).over(wp).alias("wtot"),
    )
    first = (
        ranked.filter(F.col("rn_first") == 1)
        .groupBy("channel")
        .agg(F.count("*").alias("touches"))
        .select(
            F.lit("first_touch").alias("model"),
            "channel",
            "touches",
            F.col("touches").cast("double").alias("credit"),
        )
    )
    last = (
        ranked.filter(F.col("rn_last") == 1)
        .groupBy("channel")
        .agg(F.count("*").alias("touches"))
        .select(
            F.lit("last_touch").alias("model"),
            "channel",
            "touches",
            F.col("touches").cast("double").alias("credit"),
        )
    )
    linear = (
        ranked.groupBy("channel")
        .agg(
            F.count("*").alias("touches"),
            F.round(F.sum(F.lit(1.0) / F.col("k")), 4).alias("credit"),
        )
        .select(F.lit("linear").alias("model"), "channel", "touches", "credit")
    )
    time_decay = (
        ranked.groupBy("channel")
        .agg(
            F.count("*").alias("touches"),
            F.round(F.sum(F.col("w") / F.col("wtot")), 4).alias(
                "credit"
            ),
        )
        .select(
            F.lit("time_decay").alias("model"),
            "channel",
            "touches",
            "credit",
        )
    )
    unattributed = (
        purchases.join(
            journeys.select("pid").distinct(), "pid", "left_anti"
        )
        .agg(F.count("*").alias("touches"))
        .select(
            F.lit("unattributed").alias("model"),
            F.lit("none").alias("channel"),
            "touches",
            F.col("touches").cast("double").alias("credit"),
        )
    )
    return (
        first.unionByName(last)
        .unionByName(linear)
        .unionByName(time_decay)
        .unionByName(unattributed)
    )




ORACLE_ATTRIBUTION = f"""
at_base AS (
  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events
),
at_p AS (
  SELECT user_id, event_id AS pid, ms AS pms
  FROM at_base WHERE event_type = 'purchase'
),
at_t AS (
  SELECT user_id, event_id AS tid, event_type AS channel, ms AS tms
  FROM at_base WHERE event_type IN ('click', 'view')
),
at_j AS (
  SELECT p.pid, t.channel, t.tms, t.tid,
         CAST(1 AS DOUBLE)
           / CAST(pow(2, (p.pms - t.tms) // {6 * 3600 * 1000})
                  AS DOUBLE) AS w
  FROM at_p p JOIN at_t t ON p.user_id = t.user_id
  WHERE t.tms < p.pms AND t.tms >= p.pms - {MTA_WINDOW_MS}
),
at_r AS (
  SELECT pid, channel, w,
         row_number() OVER (PARTITION BY pid
                            ORDER BY tms, tid) AS rn_first,
         row_number() OVER (PARTITION BY pid
                            ORDER BY tms DESC, tid DESC) AS rn_last,
         count(*) OVER (PARTITION BY pid) AS k,
         sum(w) OVER (PARTITION BY pid) AS wtot
  FROM at_j
),
attribution_report AS (
  SELECT 'first_touch' AS model, channel,
         CAST(count(*) AS BIGINT) AS touches,
         CAST(count(*) AS DOUBLE) AS credit
  FROM at_r WHERE rn_first = 1 GROUP BY 2
  UNION ALL
  SELECT 'last_touch', channel, CAST(count(*) AS BIGINT),
         CAST(count(*) AS DOUBLE)
  FROM at_r WHERE rn_last = 1 GROUP BY 2
  UNION ALL
  SELECT 'linear', channel, CAST(count(*) AS BIGINT),
         round(sum(CAST(1 AS DOUBLE) / k), 4)
  FROM at_r GROUP BY 2
  UNION ALL
  SELECT 'time_decay', channel, CAST(count(*) AS BIGINT),
         round(sum(w / wtot), 4)
  FROM at_r GROUP BY 2
  UNION ALL
  SELECT 'unattributed', 'none', CAST(count(*) AS BIGINT),
         CAST(count(*) AS DOUBLE)
  FROM at_p WHERE pid NOT IN (SELECT DISTINCT pid FROM at_j)
)
"""




# ---------------------------------------------------------------------------
# CUPED variance reduction (pre-period covariate adjustment)
# ---------------------------------------------------------------------------

#: pre/post split day-of-month boundary for the CUPED report.
CUPED_SPLIT_DAY = 16




def cuped_report(events: DataFrame) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data; Deng
    et al. 2013): regress each user's post-period spend on their
    pre-period spend and subtract the predictable part —
    theta = cov(pre, post) / var(pre), adjusted = post - theta*pre —
    the standard way to shrink A/B-test confidence intervals without
    more traffic. The report quantifies the win: theta, raw vs
    adjusted variance, percent reduction.

    One user-grain agg (integer cents) -> one 1-row moment agg; the
    variance of the adjusted metric expands algebraically from the
    same moments with the PRE-ROUNDED theta, so the whole readout is
    engine-exact. Output (stat, value): n_users, theta, var_post,
    var_adj, reduction_pct.
    """
    per_user = events.filter(F.col("event_type") == "purchase").groupBy(
        "user_id"
    ).agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.dayofmonth("ts") < CUPED_SPLIT_DAY,
                    F.expr("CAST(floor(value * 100) AS BIGINT)"),
                )
            ),
            F.lit(0),
        ).alias("pre"),
        F.coalesce(
            F.sum(
                F.when(
                    F.dayofmonth("ts") >= CUPED_SPLIT_DAY,
                    F.expr("CAST(floor(value * 100) AS BIGINT)"),
                )
            ),
            F.lit(0),
        ).alias("post"),
    )
    m = per_user.agg(
        F.count("*").alias("n"),
        F.sum("pre").alias("sp"),
        F.sum("post").alias("so"),
        F.sum(F.col("pre") * F.col("pre")).alias("spp"),
        F.sum(F.col("pre") * F.col("post")).alias("spo"),
        F.sum(F.col("post") * F.col("post")).alias("soo"),
    )
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n",
        "CAST(sp AS DOUBLE) AS sp",
        "CAST(so AS DOUBLE) AS so",
        "CAST(spp AS DOUBLE) AS spp",
        "CAST(spo AS DOUBLE) AS spo",
        "CAST(soo AS DOUBLE) AS soo",
    ).selectExpr(
        "n", "sp", "so", "spp", "spo", "soo",
        "round((n * spo - sp * so) / (n * spp - sp * sp), 9) AS theta",
    ).selectExpr(
        "n",
        "theta",
        "round((soo - so * so / n) / (n - 1), 4) AS var_post",
        # Var(post - theta*pre) expanded from the same moments
        "round(((soo - 2 * theta * spo + theta * theta * spp)"
        " - (so - theta * sp) * (so - theta * sp) / n) / (n - 1), 4)"
        " AS var_adj",
    ).selectExpr(
        "stack(5,"
        " 'n_users', CAST(n AS DOUBLE),"
        " 'theta', round(theta, 6),"
        " 'var_post', var_post,"
        " 'var_adj', var_adj,"
        " 'reduction_pct', round(100.0 * (1.0 - var_adj / var_post), 4))"
        " AS (stat, value)"
    )




ORACLE_CUPED = f"""
cu_user AS (
  SELECT user_id,
         CAST(COALESCE(sum(CASE WHEN dayofmonth(ts) < {CUPED_SPLIT_DAY}
              THEN CAST(floor(value * 100) AS BIGINT) END), 0)
              AS BIGINT) AS pre,
         CAST(COALESCE(sum(CASE WHEN dayofmonth(ts) >= {CUPED_SPLIT_DAY}
              THEN CAST(floor(value * 100) AS BIGINT) END), 0)
              AS BIGINT) AS post
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
),
cu_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pre) AS DOUBLE) AS sp,
         CAST(sum(post) AS DOUBLE) AS so,
         CAST(sum(pre * pre) AS DOUBLE) AS spp,
         CAST(sum(pre * post) AS DOUBLE) AS spo,
         CAST(sum(post * post) AS DOUBLE) AS soo
  FROM cu_user
),
cu_t AS (
  SELECT *, round((n * spo - sp * so) / (n * spp - sp * sp), 9) AS theta
  FROM cu_m
),
cu_v AS (
  SELECT n, theta,
         round((soo - so * so / n) / (n - 1), 4) AS var_post,
         round(((soo - 2 * theta * spo + theta * theta * spp)
                - (so - theta * sp) * (so - theta * sp) / n)
               / (n - 1), 4) AS var_adj
  FROM cu_t
),
cuped_report AS (
  SELECT 'n_users' AS stat, CAST(n AS DOUBLE) AS value FROM cu_v
  UNION ALL SELECT 'theta', round(theta, 6) FROM cu_v
  UNION ALL SELECT 'var_post', var_post FROM cu_v
  UNION ALL SELECT 'var_adj', var_adj FROM cu_v
  UNION ALL SELECT 'reduction_pct',
    round(100.0 * (1.0 - var_adj / var_post), 4) FROM cu_v
)
"""




# ---------------------------------------------------------------------------
# exact Shapley-value channel attribution
# ---------------------------------------------------------------------------

#: fixed channel vocabulary -> bitmask bit (the four non-conversion
#: event types of the fixture; 'purchase' is the conversion). Exact
#: Shapley enumerates 2^|channels| coalitions — tractable precisely
#: because the channel vocabulary is tiny and FIXED, never data-sized.
SHAPLEY_CHANNEL_BITS: tuple[tuple[str, int], ...] = (
    ("click", 1),
    ("error", 2),
    ("signup", 4),
    ("view", 8),
)



#: n=4 coalition weights: |S|! * (n-1-|S|)! for |S| = 0..3; the
#: denominator n! = 24 stays symbolic so every Shapley value is an
#: exact integer number of 24ths.
_SHAPLEY_W = {0: 6, 1: 2, 2: 2, 3: 6}




def shapley_attribution(events: DataFrame) -> DataFrame:
    """EXACT Shapley-value channel attribution over pre-conversion
    journeys: the characteristic function v(S) counts converting
    users whose touched-channel set is contained in coalition S
    (touches = distinct non-purchase event types strictly before the
    user's first purchase), and each channel's Shapley value is the
    weighted sum of marginals v(S ∪ {c}) − v(S) over the 2^4
    coalitions. The game-theoretic MTA model that
    ``attribution_report``'s heuristic models (first/last/linear/
    time-decay) approximate.

    Scale shape: the fact-sized work is one groupBy(user) min-ts and
    one distinct on (user, channel-bit) — everything after lives on a
    ≤16-row mask-count table expanded to coalitions via a
    higher-order-function superset explode (no nested-loop join, no
    driver collect). All counts and weights are integers; the single
    division by 4! happens at the rounded edge.

    Output: (channel, shapley_24ths, shapley) — shapley values sum to
    v(full) − v(empty) by construction (efficiency axiom).
    """
    fp = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("fp_us"))
    )
    bit_expr = F.when(F.lit(False), F.lit(0))
    for name, bit in SHAPLEY_CHANNEL_BITS:
        bit_expr = bit_expr.when(F.col("event_type") == name, F.lit(bit))
    touches = (
        events.join(fp, "user_id")
        .filter(
            (F.unix_micros("ts") < F.col("fp_us"))
            & (F.col("event_type") != "purchase")
        )
        .select("user_id", bit_expr.alias("bit"))
        .distinct()
    )
    masks = (
        fp.join(
            touches.groupBy("user_id").agg(F.sum("bit").alias("mask")),
            "user_id",
            "left",
        )
        .select(F.coalesce(F.col("mask"), F.lit(0)).alias("mask"))
        .groupBy("mask")
        .agg(F.count("*").alias("n_users"))
    )
    # v(S) for all 16 coalitions: explode each mask to its supersets
    # (HOF filter over sequence(0,15) — map-side, 16x at most), agg.
    v = (
        masks.select(
            F.explode(
                F.expr("filter(sequence(0, 15), s -> (s & mask) = mask)")
            ).alias("S"),
            "n_users",
        )
        .groupBy("S")
        .agg(F.sum("n_users").alias("v"))
    )
    spark = events.sparkSession
    combos = spark.range(16).select(
        F.col("id").cast("int").alias("S"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("channel"),
                        F.lit(bit).alias("c_bit"),
                    )
                    for name, bit in SHAPLEY_CHANNEL_BITS
                ]
            )
        ).alias("ch"),
    ).select("S", "ch.channel", "ch.c_bit").filter(
        F.expr("(S & c_bit) = 0")
    )
    w_expr = (
        F.when(F.expr("bit_count(S)") == 0, F.lit(_SHAPLEY_W[0]))
        .when(F.expr("bit_count(S)") == 1, F.lit(_SHAPLEY_W[1]))
        .when(F.expr("bit_count(S)") == 2, F.lit(_SHAPLEY_W[2]))
        .otherwise(F.lit(_SHAPLEY_W[3]))
    )
    vS = v.select(F.col("S").alias("vs_key"), F.col("v").alias("v_s"))
    vSc = v.select(F.col("S").alias("vc_key"), F.col("v").alias("v_sc"))
    scored = (
        combos.withColumn("w", w_expr)
        .withColumn("Sc", F.expr("S | c_bit"))
        .join(F.broadcast(vS), F.col("S") == F.col("vs_key"), "left")
        .join(F.broadcast(vSc), F.col("Sc") == F.col("vc_key"), "left")
        .select(
            "channel",
            (
                F.col("w")
                * (
                    F.coalesce(F.col("v_sc"), F.lit(0))
                    - F.coalesce(F.col("v_s"), F.lit(0))
                )
            ).alias("contrib"),
        )
    )
    return scored.groupBy("channel").agg(
        F.sum("contrib").alias("shapley_24ths")
    ).select(
        "channel",
        "shapley_24ths",
        F.round(
            F.col("shapley_24ths") / F.lit(24).cast("double"), 6
        ).alias("shapley"),
    )




ORACLE_SHAPLEY = """
shp_fp AS (
  SELECT user_id, min(ts) AS fp_ts
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
shp_touch AS (
  SELECT DISTINCT e.user_id,
         CASE e.event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
              WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END AS bit
  FROM events e JOIN shp_fp f ON e.user_id = f.user_id
  WHERE e.ts < f.fp_ts AND e.event_type <> 'purchase'
),
shp_masks AS MATERIALIZED (
  SELECT coalesce(t.mask, 0) AS mask, CAST(count(*) AS BIGINT) AS n_users
  FROM shp_fp f
  LEFT JOIN (SELECT user_id, CAST(sum(bit) AS BIGINT) AS mask
             FROM shp_touch GROUP BY 1) t
    ON f.user_id = t.user_id
  GROUP BY 1
),
shp_v AS MATERIALIZED (
  SELECT s.s AS S, CAST(sum(m.n_users) AS BIGINT) AS v
  FROM shp_masks m, LATERAL unnest(range(16)) AS s(s)
  WHERE (CAST(s.s AS BIGINT) & m.mask) = m.mask
  GROUP BY 1
),
shp_combos AS (
  SELECT CAST(s.s AS INT) AS S, c.channel, c.c_bit
  FROM (SELECT * FROM range(16)) s(s)
  CROSS JOIN (VALUES ('click', 1), ('error', 2),
                     ('signup', 4), ('view', 8)) c(channel, c_bit)
  WHERE (CAST(s.s AS INT) & c.c_bit) = 0
),
shapley_attribution AS (
  SELECT c.channel,
         CAST(sum((CASE bit_count(c.S) WHEN 0 THEN 6 WHEN 1 THEN 2
                        WHEN 2 THEN 2 ELSE 6 END)
                  * (coalesce(vc.v, 0) - coalesce(vs.v, 0))) AS BIGINT)
           AS shapley_24ths,
         round(CAST(sum((CASE bit_count(c.S) WHEN 0 THEN 6 WHEN 1 THEN 2
                              WHEN 2 THEN 2 ELSE 6 END)
                        * (coalesce(vc.v, 0) - coalesce(vs.v, 0)))
                    AS DOUBLE) / CAST(24 AS DOUBLE), 6) AS shapley
  FROM shp_combos c
  LEFT JOIN shp_v vs ON c.S = vs.S
  LEFT JOIN shp_v vc ON (c.S | c.c_bit) = vc.S
  GROUP BY 1
)
"""




# ---------------------------------------------------------------------------
# difference-in-differences estimator
# ---------------------------------------------------------------------------

def did_report(events: DataFrame) -> DataFrame:
    """Difference-in-differences on the purchase metric: variant =
    user parity (the engine's standing deterministic assignment),
    period = event time before/after the stream's midpoint (one
    min/max agg broadcast back — no calendar constant baked in).
    DiD = (treat_post − treat_pre) − (ctrl_post − ctrl_pre), the
    workhorse quasi-experimental estimator when only the treated
    group crosses an exposure boundary.

    Cell means come from EXACT integer cent sums (value quantized to
    cents — the dbscan stance), so the four means and the estimate
    are each one rounded division of BIGINTs; the whole query is two
    hash-aggs (cell grain = 4 rows) + a 1-row broadcast.

    Output: one row per (variant, period) cell with n/mean, plus one
    ('did', NULL) row carrying the estimate.
    """
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    base = events.filter(F.col("event_type") == AB_METRIC_TYPE).select(
        (F.col("user_id") % 2).cast("int").alias("variant"),
        F.unix_micros("ts").alias("us"),
        cents.alias("cents"),
    )
    span = base.agg(
        ((F.min("us") + F.max("us")) / 2).cast("bigint").alias("mid")
    )
    cells = (
        base.crossJoin(F.broadcast(span))
        .select(
            "variant",
            (F.col("us") >= F.col("mid")).cast("int").alias("post"),
            "cents",
        )
        .groupBy("variant", "post")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("s"))
    )
    mean = F.round(F.col("s") / (F.lit(100.0) * F.col("n")), 6)
    rows = cells.select(
        F.col("variant").cast("string").alias("cell_variant"),
        F.col("post"),
        "n",
        mean.alias("mean_value"),
    )
    # DiD from the 4 exact cell sums: one conditional agg, one
    # rounded expression (means expanded algebraically).
    did = cells.agg(
        F.lit("did").alias("cell_variant"),
        F.lit(None).cast("int").alias("post"),
        F.sum("n").alias("n"),
        F.round(
            (
                F.sum(F.when((F.col("variant") == 1) & (F.col("post") == 1), F.col("s")).otherwise(0))
                / (F.lit(100.0) * F.sum(F.when((F.col("variant") == 1) & (F.col("post") == 1), F.col("n")).otherwise(0)))
                - F.sum(F.when((F.col("variant") == 1) & (F.col("post") == 0), F.col("s")).otherwise(0))
                / (F.lit(100.0) * F.sum(F.when((F.col("variant") == 1) & (F.col("post") == 0), F.col("n")).otherwise(0)))
            )
            - (
                F.sum(F.when((F.col("variant") == 0) & (F.col("post") == 1), F.col("s")).otherwise(0))
                / (F.lit(100.0) * F.sum(F.when((F.col("variant") == 0) & (F.col("post") == 1), F.col("n")).otherwise(0)))
                - F.sum(F.when((F.col("variant") == 0) & (F.col("post") == 0), F.col("s")).otherwise(0))
                / (F.lit(100.0) * F.sum(F.when((F.col("variant") == 0) & (F.col("post") == 0), F.col("n")).otherwise(0)))
            ),
            6,
        ).alias("mean_value"),
    )
    return rows.unionByName(did)




ORACLE_DID = """
did_base AS (
  SELECT CAST(user_id % 2 AS INT) AS variant,
         epoch_us(ts) AS us,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
did_span AS (
  SELECT CAST((min(us) + max(us)) // 2 AS BIGINT) AS mid FROM did_base
),
did_cells AS MATERIALIZED (
  SELECT variant, CAST(us >= (SELECT mid FROM did_span) AS INT) AS post,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s
  FROM did_base
  GROUP BY 1, 2
),
did_report AS (
  SELECT CAST(variant AS VARCHAR) AS cell_variant, post, n,
         round(s / (CAST(100 AS DOUBLE) * n), 6) AS mean_value
  FROM did_cells
  UNION ALL
  SELECT 'did', CAST(NULL AS INT), CAST(sum(n) AS BIGINT),
         round((sum(CASE WHEN variant = 1 AND post = 1 THEN s ELSE 0 END)
                / (CAST(100 AS DOUBLE) *
                   sum(CASE WHEN variant = 1 AND post = 1 THEN n ELSE 0 END))
                - sum(CASE WHEN variant = 1 AND post = 0 THEN s ELSE 0 END)
                / (CAST(100 AS DOUBLE) *
                   sum(CASE WHEN variant = 1 AND post = 0 THEN n ELSE 0 END)))
               - (sum(CASE WHEN variant = 0 AND post = 1 THEN s ELSE 0 END)
                  / (CAST(100 AS DOUBLE) *
                     sum(CASE WHEN variant = 0 AND post = 1 THEN n ELSE 0 END))
                  - sum(CASE WHEN variant = 0 AND post = 0 THEN s ELSE 0 END)
                  / (CAST(100 AS DOUBLE) *
                     sum(CASE WHEN variant = 0 AND post = 0 THEN n ELSE 0 END))),
               6) AS mean_value
  FROM did_cells
)
"""




# ---------------------------------------------------------------------------
# A/B power analysis: MDE + required sample size
# ---------------------------------------------------------------------------

#: two-sided alpha=.05 and 80% power normal quantiles (z_{.975},
#: z_{.80}) — fixed double literals, identical text in both engines.
POWER_Z_ALPHA = 1.959964


POWER_Z_BETA = 0.841621


#: target relative lift the sample-size row is computed for.
POWER_TARGET_REL = 0.05




def ab_power_mde(events: DataFrame) -> DataFrame:
    """Experiment power readout on the purchase metric: the minimum
    detectable effect at the CURRENT sample (two-sample normal
    approximation, alpha=.05 two-sided, 80% power) and the per-arm
    sample size a 5%-of-mean lift would need — the two numbers a team
    checks BEFORE trusting (or launching) the A/B readout that
    `ab_test_report` / `cuped_report` deliver.

        mde = (z_a + z_b) * sqrt(s2 * (1/n0 + 1/n1))
        n_per_arm = 2 * s2 * (z_a + z_b)^2 / (target_rel * mean)^2

    User-grain totals come from exact integer cent sums; the pooled
    variance uses the n·Σx²−(Σx)² BIGINT identity, so the only floats
    are the final closed-form expressions (identical text in both
    engines, rounded at the edge).

    Output (1 row): n0, n1, mean_value, sd_value, mde_abs, mde_rel,
    n_per_arm_5pct.
    """
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    per_user = (
        events.filter(F.col("event_type") == AB_METRIC_TYPE)
        .groupBy("user_id")
        .agg(F.sum(cents).alias("uc"))
        .select(
            (F.col("user_id") % 2).cast("int").alias("variant"),
            "uc",
        )
    )
    m = per_user.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n1"),
        F.count("*").alias("n"),
        F.sum("uc").alias("s1"),
        F.sum(F.col("uc") * F.col("uc")).alias("s2m"),
    )
    z = POWER_Z_ALPHA + POWER_Z_BETA
    s2 = (
        (F.col("n") * F.col("s2m") - F.col("s1") * F.col("s1"))
        / (F.col("n") * (F.col("n") - 1))
    ) / F.lit(10000.0)
    mean = F.col("s1") / (F.lit(100.0) * F.col("n"))
    mde = F.lit(z) * F.sqrt(
        s2 * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    return m.select(
        "n0",
        "n1",
        F.round(mean, 6).alias("mean_value"),
        F.round(F.sqrt(s2), 6).alias("sd_value"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / mean, 6).alias("mde_rel"),
        F.round(
            F.lit(2.0)
            * s2
            * F.lit(z * z)
            / ((F.lit(POWER_TARGET_REL) * mean)
               * (F.lit(POWER_TARGET_REL) * mean)),
            2,
        ).alias("n_per_arm_5pct"),
    )




ORACLE_AB_POWER = f"""
pw_user AS (
  SELECT CAST(user_id % 2 AS INT) AS variant,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS uc
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
pw_m AS (
  SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n0,
         CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n1,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(uc) AS BIGINT) AS s1,
         CAST(sum(uc * uc) AS BIGINT) AS s2m
  FROM pw_user
),
ab_power_mde AS (
  SELECT n0, n1,
         round(s1 / (CAST(100 AS DOUBLE) * n), 6) AS mean_value,
         round(sqrt(((n * s2m - s1 * s1)
                     / CAST(n * (n - 1) AS DOUBLE)) / 10000.0), 6)
           AS sd_value,
         round({POWER_Z_ALPHA + POWER_Z_BETA}
               * sqrt((((n * s2m - s1 * s1)
                        / CAST(n * (n - 1) AS DOUBLE)) / 10000.0)
                      * (CAST(1 AS DOUBLE) / n0
                         + CAST(1 AS DOUBLE) / n1)), 6) AS mde_abs,
         round(({POWER_Z_ALPHA + POWER_Z_BETA}
                * sqrt((((n * s2m - s1 * s1)
                         / CAST(n * (n - 1) AS DOUBLE)) / 10000.0)
                       * (CAST(1 AS DOUBLE) / n0
                          + CAST(1 AS DOUBLE) / n1)))
               / (s1 / (CAST(100 AS DOUBLE) * n)), 6) AS mde_rel,
         round(2.0 * (((n * s2m - s1 * s1)
                       / CAST(n * (n - 1) AS DOUBLE)) / 10000.0)
               * {(POWER_Z_ALPHA + POWER_Z_BETA) ** 2}
               / (({POWER_TARGET_REL} * (s1 / (CAST(100 AS DOUBLE) * n)))
                  * ({POWER_TARGET_REL}
                     * (s1 / (CAST(100 AS DOUBLE) * n)))), 2)
           AS n_per_arm_5pct
  FROM pw_m
)
"""




# ---------------------------------------------------------------------------
# Markov removal-effect attribution (data-driven MTA)
# ---------------------------------------------------------------------------

#: absorption-iteration rounds: P(absorb into conv within K steps)
#: from START; both engines run the SAME unrolled count. K=10 covers
#: paths far longer than any fixture journey.
MRA_ROUNDS = 10


#: millionths probability scale (the PageRank/stationary stance).
MRA_SCALE = 1_000_000


#: the removable channels (the non-conversion event types).
MRA_CHANNELS: tuple[str, ...] = ("click", "error", "signup", "view")




def markov_removal_attribution(events: DataFrame) -> DataFrame:
    """Markov-chain attribution by removal effect (Anderl et al.
    2014) — the data-driven MTA model that closes the engine's
    attribution ladder (heuristics in `attribution_report`,
    game-theoretic Shapley in `shapley_attribution`): build the
    first-order journey chain START → channels → conv/null from each
    user's pre-first-purchase history, then for each channel compute
    how much conversion probability disappears when that channel's
    node is removed (entries into it re-routed to null, its
    out-edges dropped):

        effect_c = (P(conv) − P_c(conv)) / P(conv),
        share_c  = effect_c / Σ effects.

    Absorption probabilities run as INTEGER millionths flows
    a_k(s) = (Σ_t cnt(s,t)·a_{k-1}(t)) DIV n_s over ``MRA_ROUNDS``
    unrolled rounds — all five chain variants (none + 4 removals)
    iterate TOGETHER as one (variant, from, to) table, so each round
    is one tiny join + hash-agg regardless of how many channels are
    audited. The only fact-sized stages are the first-purchase agg
    and one per-user lead() window (the sessionization shuffle every
    journey model shares).

    Output per channel: (channel, p_conv_base_mill, p_conv_removed_mill,
    removal_effect, attribution_share).
    """
    us = F.unix_micros("ts")
    fp = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(us).alias("fp_us"))
    )
    allu = events.select("user_id").distinct()
    base = (
        events.join(fp, "user_id", "left")
        .filter(
            (F.col("event_type") != "purchase")
            & (F.col("fp_us").isNull() | (us < F.col("fp_us")))
        )
        .select(
            "user_id",
            F.col("event_type").alias("ch"),
            us.alias("ts_us"),
            "event_id",
            F.col("fp_us").isNotNull().alias("conv"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = base.select(
        "user_id",
        "ch",
        "conv",
        F.row_number().over(w).alias("rn"),
        F.lead("ch").over(w).alias("nxt"),
    )
    mids = seq.select(
        F.col("ch").alias("src"),
        F.coalesce(
            F.col("nxt"),
            F.when(F.col("conv"), F.lit("conv")).otherwise(F.lit("null")),
        ).alias("dst"),
    )
    starts = seq.filter(F.col("rn") == 1).select(
        F.lit("START").alias("src"), F.col("ch").alias("dst")
    )
    lonely = (
        allu.join(base.select("user_id").distinct(), "user_id", "left_anti")
        .join(fp.select("user_id", F.lit(True).alias("c")), "user_id", "left")
        .select(
            F.lit("START").alias("src"),
            F.when(F.col("c"), F.lit("conv")).otherwise(F.lit("null")).alias("dst"),
        )
    )
    counts = (
        mids.unionByName(starts)
        .unionByName(lonely)
        .groupBy("src", "dst")
        .agg(F.count("*").alias("cnt"))
    )
    variants = F.array(
        *[F.lit(v) for v in ("none",) + MRA_CHANNELS]
    )
    var_counts = (
        counts.select(
            F.explode(variants).alias("variant"), "src", "dst", "cnt"
        )
        .filter(F.col("src") != F.col("variant"))
        .select(
            "variant",
            "src",
            F.when(F.col("dst") == F.col("variant"), F.lit("null"))
            .otherwise(F.col("dst"))
            .alias("dst"),
            "cnt",
        )
        .groupBy("variant", "src", "dst")
        .agg(F.sum("cnt").alias("cnt"))
    )
    tot = var_counts.groupBy("variant", "src").agg(
        F.sum("cnt").alias("n_src")
    )
    trans = _cut(var_counts.join(tot, ["variant", "src"]))
    # Absorption rounds run DRIVER-SIDE on the collected transition
    # table (r9 optimization, guide §1.2): the table is state-machine
    # grain — (1 + |MRA_CHANNELS|) variants x (event-type vocabulary
    # + START/conv/null)² rows, bounded by the channel vocabulary and
    # NOT by corpus size — the same bounded-collect class as Lloyd's
    # k x dims centroids or the BPE argmax row. The 10 unrolled
    # Spark rounds cost ~20 AQE stage-jobs plus quadratic re-analysis
    # of a growing plan (~3 s build + ~2 s action at sf0.1) to
    # iterate a few-hundred-row integer recurrence. The Python fold
    # below replays the identical exact-integer arithmetic
    # (a_k(s) = Σ cnt·a_{k-1}(dst) DIV n_src, all values
    # non-negative BIGINTs, so `//` == Spark `div`); every FLOAT
    # division/round stays in Spark expressions, so the output is
    # bit-identical (oracle hash unchanged).
    tr = [
        (r["variant"], r["src"], r["dst"], r["cnt"], r["n_src"])
        for r in trans.collect()
    ]
    absorb = {}
    for v in ("none",) + MRA_CHANNELS:
        absorb[(v, "conv")] = MRA_SCALE
        absorb[(v, "null")] = 0
    a_cur = dict(absorb)
    for _ in range(MRA_ROUNDS):
        flows: dict[tuple, int] = {}
        nsrc: dict[tuple, int] = {}
        for v, src, dst, cnt, n_src in tr:
            k = (v, src)
            flows[k] = flows.get(k, 0) + cnt * a_cur.get((v, dst), 0)
            nsrc[k] = n_src
        a_cur = {k: flows[k] // nsrc[k] for k in flows}
        a_cur.update(absorb)
    spark = events.sparkSession
    # guard the base lookup like the per-channel ones: on a degenerate
    # /empty events input no START row exists and the pre-fold Spark
    # path produced an empty result, not a KeyError.
    p_base = a_cur.get(("none", "START"))
    p_rows = [
        (
            v,
            p_base,
            a_cur[(v, "START")],
        )
        for v in MRA_CHANNELS
        if p_base is not None and (v, "START") in a_cur
    ]
    per_ch = local_rows(
        spark, p_rows, "channel string, p_base bigint, p_conv bigint"
    ).select(
        "channel",
        F.col("p_base").alias("p_conv_base_mill"),
        F.col("p_conv").alias("p_conv_removed_mill"),
        F.round(
            (F.col("p_base") - F.col("p_conv"))
            / F.col("p_base").cast("double"),
            6,
        ).alias("removal_effect"),
        (F.col("p_base") - F.col("p_conv")).alias("eff_num"),
    )
    eff_tot = per_ch.agg(F.sum("eff_num").alias("eff_sum"))
    return (
        per_ch.crossJoin(F.broadcast(eff_tot))
        .select(
            "channel",
            "p_conv_base_mill",
            "p_conv_removed_mill",
            "removal_effect",
            F.round(
                F.col("eff_num") / F.col("eff_sum").cast("double"), 6
            ).alias("attribution_share"),
        )
    )




def oracle_markov_removal(rounds: int = MRA_ROUNDS) -> str:
    ctes = [
        """
mra_fp AS (
  SELECT user_id, min(epoch_us(ts)) AS fp_us
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
mra_base AS (
  SELECT e.user_id, e.event_type AS ch, epoch_us(e.ts) AS ts_us,
         e.event_id, f.fp_us IS NOT NULL AS conv
  FROM events e LEFT JOIN mra_fp f ON e.user_id = f.user_id
  WHERE e.event_type <> 'purchase'
    AND (f.fp_us IS NULL OR epoch_us(e.ts) < f.fp_us)
),
mra_seq AS (
  SELECT user_id, ch, conv,
         row_number() OVER w AS rn, lead(ch) OVER w AS nxt
  FROM mra_base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
mra_counts AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT ch AS src,
           coalesce(nxt, CASE WHEN conv THEN 'conv' ELSE 'null' END)
             AS dst
    FROM mra_seq
    UNION ALL
    SELECT 'START', ch FROM mra_seq WHERE rn = 1
    UNION ALL
    SELECT 'START',
           CASE WHEN f.user_id IS NOT NULL THEN 'conv' ELSE 'null' END
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN (SELECT DISTINCT user_id FROM mra_base) b
      ON u.user_id = b.user_id
    LEFT JOIN mra_fp f ON u.user_id = f.user_id
    WHERE b.user_id IS NULL
  )
  GROUP BY 1, 2
),
mra_var AS MATERIALIZED (
  SELECT v.variant, c.src,
         CASE WHEN c.dst = v.variant THEN 'null' ELSE c.dst END AS dst,
         CAST(sum(c.cnt) AS BIGINT) AS cnt
  FROM mra_counts c
  CROSS JOIN (VALUES ('none'), ('click'), ('error'),
                     ('signup'), ('view')) v(variant)
  WHERE c.src <> v.variant
  GROUP BY 1, 2, 3
),
mra_trans AS MATERIALIZED (
  SELECT vc.*, t.n_src FROM mra_var vc
  JOIN (SELECT variant, src, CAST(sum(cnt) AS BIGINT) AS n_src
        FROM mra_var GROUP BY 1, 2) t USING (variant, src)
),
mra_a0 AS (
  SELECT variant, 'conv' AS state,
         CAST({scale} AS BIGINT) AS a
  FROM (SELECT DISTINCT variant FROM mra_trans)
  UNION ALL
  SELECT variant, 'null', CAST(0 AS BIGINT)
  FROM (SELECT DISTINCT variant FROM mra_trans)
)""".format(scale=MRA_SCALE)
    ]
    prev = "mra_a0"
    for k in range(1, rounds + 1):
        ctes.append(
            """
mra_a{k} AS MATERIALIZED (
  SELECT t.variant, t.src AS state,
         CAST(sum(t.cnt * coalesce(p.a, 0)) // max(t.n_src) AS BIGINT)
           AS a
  FROM mra_trans t
  LEFT JOIN {prev} p ON t.variant = p.variant AND t.dst = p.state
  GROUP BY 1, 2
  UNION ALL
  SELECT * FROM mra_a0
)""".format(k=k, prev=prev)
        )
        prev = f"mra_a{k}"
    ctes.append(
        """
mra_start AS (
  SELECT variant, a AS p_conv FROM {prev} WHERE state = 'START'
),
markov_removal_attribution AS (
  SELECT s.variant AS channel,
         b.p_conv AS p_conv_base_mill,
         s.p_conv AS p_conv_removed_mill,
         round((b.p_conv - s.p_conv) / CAST(b.p_conv AS DOUBLE), 6)
           AS removal_effect,
         round((b.p_conv - s.p_conv)
               / CAST((SELECT sum(b2.p_conv - s2.p_conv)
                       FROM mra_start s2
                       CROSS JOIN (SELECT p_conv FROM mra_start
                                   WHERE variant = 'none') b2
                       WHERE s2.variant <> 'none') AS DOUBLE), 6)
           AS attribution_share
  FROM mra_start s
  CROSS JOIN (SELECT p_conv FROM mra_start WHERE variant = 'none') b
  WHERE s.variant <> 'none'
)""".format(prev=prev)
    )
    return ",".join(ctes)




# ---------------------------------------------------------------------------
# group-sequential A/B test (O'Brien-Fleming boundaries)
# ---------------------------------------------------------------------------

#: number of interim looks.
GS_LOOKS = 5


#: two-sided alpha=0.05 O'Brien-Fleming z boundaries for K=5 looks.
GS_OBF_BOUNDS = (4.877, 3.357, 2.680, 2.290, 2.031)




def group_sequential_test(events: DataFrame) -> DataFrame:
    """Group-sequential A/B monitoring with O'Brien-Fleming stopping
    boundaries: the observation window splits into K=5 equal-width
    epochs, and at each look k the CUMULATIVE purchase-value z
    (variant 0 vs 1, exact integer-cent moments through epoch k) is
    compared to the OBF boundary — the peeking-safe alternative to
    re-running a fixed-horizon test daily (which inflates false
    positives ~3x at daily peeks).

    One fact pass to (epoch, variant) moment cells (10 rows), then
    cumulative sums over the ordered 5-row epoch grain; each z is one
    closed-form expression on exact BIGINTs, boundaries are fixed
    literals. Epoch edges derive from the min/max event day (1-row
    broadcast), so the split is deterministic at any scale.

    Output per look: look, n_cum, z (rounded 6), obf_bound, crossed.
    """
    days = events.agg(
        F.min(F.to_date("ts")).alias("d0"),
        (F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) + 1)
        .alias("span"),
    )
    cells = (
        events.filter(F.col("event_type") == AB_METRIC_TYPE)
        .crossJoin(F.broadcast(days))
        .select(
            F.least(
                F.lit(GS_LOOKS - 1),
                (
                    F.lit(GS_LOOKS)
                    * F.datediff(F.to_date("ts"), F.col("d0"))
                )
                / F.col("span"),
            )
            .cast("int")
            .alias("epoch"),
            (F.col("user_id") % 2).cast("int").alias("variant"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("epoch", "variant")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").alias("s"),
            F.sum(F.col("c") * F.col("c")).alias("q"),
        )
    )
    wcum = Window.partitionBy("variant").orderBy("epoch").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = cells.select(
        "epoch",
        "variant",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("s").over(wcum).alias("cs"),
        F.sum("q").over(wcum).alias("cq"),
    )
    looks = (
        cum.groupBy("epoch")
        .agg(
            F.sum(F.when(F.col("variant") == 0, F.col("cn"))).alias("n0"),
            F.sum(F.when(F.col("variant") == 0, F.col("cs"))).alias("s0"),
            F.sum(F.when(F.col("variant") == 0, F.col("cq"))).alias("q0"),
            F.sum(F.when(F.col("variant") == 1, F.col("cn"))).alias("n1"),
            F.sum(F.when(F.col("variant") == 1, F.col("cs"))).alias("s1"),
            F.sum(F.when(F.col("variant") == 1, F.col("cq"))).alias("q1"),
        )
    )
    n0d = F.col("n0").cast("double")
    n1d = F.col("n1").cast("double")
    # per-arm variance via the n·Σx² − (Σx)² identity on exact ints,
    # assembled in doubles (single scalar expression per look).
    v0 = (
        n0d * F.col("q0").cast("double")
        - F.col("s0").cast("double") * F.col("s0").cast("double")
    ) / (n0d * n0d * (n0d - 1))
    v1 = (
        n1d * F.col("q1").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
    ) / (n1d * n1d * (n1d - 1))
    z = (
        F.col("s1").cast("double") / n1d
        - F.col("s0").cast("double") / n0d
    ) / F.sqrt(v0 + v1)
    bound = F.element_at(
        F.array(*[F.lit(b) for b in GS_OBF_BOUNDS]), F.col("epoch") + 1
    )
    return looks.select(
        (F.col("epoch") + 1).alias("look"),
        (F.col("n0") + F.col("n1")).alias("n_cum"),
        F.round(z, 6).alias("z"),
        bound.alias("obf_bound"),
        (F.abs(F.round(z, 6)) > bound).alias("crossed"),
    )




def oracle_group_sequential() -> str:
    bounds = ", ".join(
        f"({i + 1}, CAST({b} AS DOUBLE))"
        for i, b in enumerate(GS_OBF_BOUNDS)
    )
    return f"""
gs_days AS (
  SELECT min(CAST(ts AS DATE)) AS d0,
         date_diff('day', min(CAST(ts AS DATE)),
                   max(CAST(ts AS DATE))) + 1 AS span
  FROM events
),
gs_cells AS (
  SELECT CAST(least({GS_LOOKS - 1},
              ({GS_LOOKS} * date_diff('day', d.d0, CAST(e.ts AS DATE)))
              // d.span) AS INT) AS epoch,
         CAST(e.user_id % 2 AS INT) AS variant,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT)
           AS s,
         CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)
                  * CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT)
           AS q
  FROM events e, gs_days d
  WHERE e.event_type = '{AB_METRIC_TYPE}'
  GROUP BY 1, 2
),
gs_cum AS (
  SELECT epoch, variant,
         CAST(sum(n) OVER wc AS BIGINT) AS cn,
         CAST(sum(s) OVER wc AS BIGINT) AS cs,
         CAST(sum(q) OVER wc AS BIGINT) AS cq
  FROM gs_cells
  WINDOW wc AS (PARTITION BY variant ORDER BY epoch
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
gs_looks AS (
  SELECT epoch,
         CAST(sum(CASE WHEN variant = 0 THEN cn END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN variant = 0 THEN cs END) AS BIGINT) AS s0,
         CAST(sum(CASE WHEN variant = 0 THEN cq END) AS BIGINT) AS q0,
         CAST(sum(CASE WHEN variant = 1 THEN cn END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN variant = 1 THEN cs END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN variant = 1 THEN cq END) AS BIGINT) AS q1
  FROM gs_cum GROUP BY 1
),
gs_bounds (look, b) AS (VALUES {bounds}),
gs_z AS (
  SELECT epoch + 1 AS look, n0 + n1 AS n_cum,
         round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
               / sqrt((CAST(n0 AS DOUBLE) * CAST(q0 AS DOUBLE)
                       - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE))
                      / (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)
                         * (CAST(n0 AS DOUBLE) - 1))
                      + (CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                        / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
                           * (CAST(n1 AS DOUBLE) - 1))), 6) AS z
  FROM gs_looks
),
group_sequential_test AS (
  SELECT g.look, g.n_cum, g.z, b.b AS obf_bound,
         abs(g.z) > b.b AS crossed
  FROM gs_z g JOIN gs_bounds b ON g.look = b.look
)
"""




# ---------------------------------------------------------------------------
# uplift deciles + Qini curve (incrementality evaluation)
# ---------------------------------------------------------------------------


def qini_uplift(events: DataFrame) -> DataFrame:
    """Uplift-by-decile table with the cumulative Qini statistic: rank
    users by a targeting score (pre-conversion engagement = view
    count), split into score deciles (best first), and per decile
    compare conversion between the randomized arms; the Qini value at
    cut k is the classic CONV_T(k) − CONV_C(k)·N_T(k)/N_C(k) on
    cumulative counts — "how many EXTRA conversions did targeting the
    top k deciles cause". The evaluation half of uplift modeling —
    plug any score in; this one uses a transparent covariate so the
    whole readout is oracle-checkable.

    Deciles come from descending prefix-sums over the DISTINCT-score
    grain (ties share a decile; no global sort) and everything
    downstream lives on the 10-row decile grain — exact BIGINT counts
    until the two rounded ratios per row.

    Output per decile: decile, n_t, n_c, conv_t, conv_c, uplift,
    qini_cum.
    """
    per_user = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("x"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("y"),
    ).select(
        "x", "y", (F.col("user_id") % 2).cast("int").alias("t")
    )
    per_v = per_user.groupBy("x").agg(F.count("*").alias("c"))
    tot = per_user.agg(F.count("*").alias("n_all"))
    # descending EXCLUSIVE prefix count via the distributed-rank
    # kernel (inclusive running sum minus own count) — the distinct-
    # score table is value-grain, but a hot scorer makes it user-
    # grain-sized, so no unpartitioned window here either.
    dec = (
        _rank.global_ranked(per_v, [F.desc("x")], sum_cols=["c"])
        .withColumn("p", F.col("_run_c") - F.col("c"))
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            F.least(
                F.lit(9), (10 * F.col("p")) / F.col("n_all")
            )
            .cast("int")
            .alias("decile"),
        )
    )
    cells = (
        per_user.join(dec, "x")
        .groupBy("decile")
        .agg(
            F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).alias("n_t"),
            F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).alias("n_c"),
            F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0)).alias(
                "conv_t"
            ),
            F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0)).alias(
                "conv_c"
            ),
        )
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return cells.select(
        "decile",
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        F.round(
            F.col("conv_t") / F.col("n_t")
            - F.col("conv_c") / F.col("n_c"),
            6,
        ).alias("uplift"),
        F.round(
            F.sum("conv_t").over(wc)
            - F.sum("conv_c").over(wc)
            * F.sum("n_t").over(wc)
            / F.sum("n_c").over(wc),
            6,
        ).alias("qini_cum"),
    )




ORACLE_QINI = """
qn_user AS (
  SELECT CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y,
         CAST(user_id % 2 AS INT) AS t
  FROM events GROUP BY user_id
),
qn_dec AS (
  SELECT x, CAST(least(9, (10 * p) // n_all) AS INT) AS decile FROM (
    SELECT x,
           CAST(coalesce(sum(count(*)) OVER (ORDER BY x DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS p,
           (SELECT count(*) FROM qn_user) AS n_all
    FROM qn_user GROUP BY 1
  )
),
qn_cells AS (
  SELECT d.decile,
         CAST(sum(CASE WHEN u.t = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_t,
         CAST(sum(CASE WHEN u.t = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_c,
         CAST(sum(CASE WHEN u.t = 1 THEN u.y ELSE 0 END) AS BIGINT)
           AS conv_t,
         CAST(sum(CASE WHEN u.t = 0 THEN u.y ELSE 0 END) AS BIGINT)
           AS conv_c
  FROM qn_user u JOIN qn_dec d ON u.x = d.x
  GROUP BY 1
),
qini_uplift AS (
  SELECT decile, n_t, n_c, conv_t, conv_c,
         round(conv_t / CAST(n_t AS DOUBLE)
               - conv_c / CAST(n_c AS DOUBLE), 6) AS uplift,
         round(CAST(sum(conv_t) OVER wq AS BIGINT)
               - CAST(sum(conv_c) OVER wq AS BIGINT)
                 * CAST(sum(n_t) OVER wq AS BIGINT)
                 / CAST(sum(n_c) OVER wq AS DOUBLE), 6) AS qini_cum
  FROM qn_cells
  WINDOW wq AS (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
"""




# ---------------------------------------------------------------------------
# off-policy evaluation (IPS / SNIPS replay on randomized logs)
# ---------------------------------------------------------------------------

#: target policy: treat users with at least this many views.
IPS_POLICY_MIN_VIEWS = 3




def offpolicy_ips(events: DataFrame) -> DataFrame:
    """Off-policy (counterfactual) evaluation by replay: the A/B log
    randomized arms uniformly (p = 1/2), so ANY deterministic target
    policy π can be valued offline — IPS = (1/N) Σ 1[a=π(x)]·r/p and
    its self-normalized SNIPS variant (lower variance, the standard
    fix when match rates drift). Here π targets engaged users
    (views ≥ {mv}); reward is purchase cents. This is the bandit /
    recommender-replay primitive: evaluate tomorrow's policy on
    yesterday's randomized traffic without an experiment.

    One user-grain agg (arm, views, exact cents), one conditional
    1-row reduction — every statistic is a ratio of BIGINT sums.

    Output (1 row): n, n_match, v_logged, v_ips, v_snips.
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
        ).alias("r"),
    ).select(
        "x",
        "r",
        (F.col("user_id") % 2).cast("int").alias("a"),
    )
    pi = F.when(
        F.col("x") >= IPS_POLICY_MIN_VIEWS, F.lit(1)
    ).otherwise(F.lit(0))
    m = per_user.select(
        "r", (F.col("a") == pi).cast("int").alias("match")
    ).agg(
        F.count("*").alias("n"),
        F.sum("match").alias("n_match"),
        F.sum("r").alias("s_all"),
        F.sum(F.col("match") * F.col("r")).alias("s_match"),
    )
    return m.select(
        "n",
        "n_match",
        F.round(F.col("s_all") / F.col("n"), 6).alias("v_logged"),
        F.round(
            F.lit(2) * F.col("s_match") / F.col("n"), 6
        ).alias("v_ips"),
        F.round(F.col("s_match") / F.col("n_match"), 6).alias(
            "v_snips"
        ),
    )




offpolicy_ips.__doc__ = offpolicy_ips.__doc__.format(
    mv=IPS_POLICY_MIN_VIEWS
)




ORACLE_IPS = f"""
op_user AS (
  SELECT CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS r,
         CAST(user_id % 2 AS INT) AS a
  FROM events GROUP BY user_id
),
op_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN a = (CASE WHEN x >= {IPS_POLICY_MIN_VIEWS}
                                      THEN 1 ELSE 0 END)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         CAST(sum(r) AS BIGINT) AS s_all,
         CAST(sum(CASE WHEN a = (CASE WHEN x >= {IPS_POLICY_MIN_VIEWS}
                                      THEN 1 ELSE 0 END)
                       THEN r ELSE 0 END) AS BIGINT) AS s_match
  FROM op_user
),
offpolicy_ips AS (
  SELECT n, n_match,
         round(s_all / CAST(n AS DOUBLE), 6) AS v_logged,
         round(2 * s_match / CAST(n AS DOUBLE), 6) AS v_ips,
         round(s_match / CAST(n_match AS DOUBLE), 6) AS v_snips
  FROM op_m
)
"""




# ---------------------------------------------------------------------------
# iterative proportional fitting (survey raking) on the type x variant grid
# ---------------------------------------------------------------------------

#: IPF rounds (each = one row-scale + one column-scale).
IPF_ROUNDS = 3


#: weight scale (millionths).
IPF_SCALE = 1_000_000




def ipf_raking(events: DataFrame) -> DataFrame:
    """Survey raking / iterative proportional fitting: reweight the
    observed (event_type × variant) contingency cells so the weighted
    margins match TARGET margins (uniform over types, 50/50 over
    variants) — the standard post-stratification weighting when a
    sample's composition drifts from the population's. Each IPF round
    scales rows then columns by target/current margin; weights are
    integer millionths with floor division, so the unrolled rounds
    replay exactly in any engine.

    The fact table collapses to the k×2 cell grid in ONE hash-agg;
    every IPF round after that is two aggs + two joins on the
    CELL-GRAIN table (bounded by the category product, never data) —
    at 100 TB the iteration cost does not change.

    Output per cell: event_type, variant, n_obs, w_mill (final
    weight, millionths of the initial uniform weight).
    """
    # one fact pass to the k x 2 cell grid, then CHECKPOINT: every IPF
    # round references the weight table twice (margin agg + rescale
    # join), so without a lineage cut the fact agg re-runs 4^rounds
    # times (measured 12 s -> ~1 s at sf0.01).
    cells = _cut(
        events.groupBy(
            "event_type",
            (F.col("user_id") % 2).cast("int").alias("variant"),
        )
        .agg(F.count("*").alias("n_obs"))
    )
    tot = cells.agg(F.sum("n_obs").alias("n"), F.count("*").alias("k"))
    # target margins: each type gets n/n_types, each variant n/2 —
    # expressed per cell via 1-row broadcast.
    w = (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "variant",
            "n_obs",
            "n",
            F.lit(IPF_SCALE).cast("bigint").alias("w"),
        )
    )
    n_types = cells.select("event_type").distinct().count()
    # margins as partitioned windows over the cell grid (the oracle's
    # exact shape) — no per-round joins, so the unrolled plan stays
    # flat: 2 window ops per round over k x 2 rows.
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("variant")
    for _ in range(IPF_ROUNDS):
        w = w.withColumn(
            "rm", F.sum(F.col("w") * F.col("n_obs")).over(wr)
        ).select(
            "event_type",
            "variant",
            "n_obs",
            "n",
            F.expr(
                f"CAST(w * (n * {IPF_SCALE} DIV {n_types})"
                " DIV rm AS BIGINT)"
            ).alias("w"),
        )
        w = w.withColumn(
            "cm", F.sum(F.col("w") * F.col("n_obs")).over(wc)
        ).select(
            "event_type",
            "variant",
            "n_obs",
            "n",
            F.expr(
                f"CAST(w * (n * {IPF_SCALE} DIV 2)"
                " DIV cm AS BIGINT)"
            ).alias("w"),
        )
    return w.select(
        "event_type", "variant", "n_obs", F.col("w").alias("w_mill")
    )




def oracle_ipf_raking(rounds: int = IPF_ROUNDS) -> str:
    ctes = [
        f"""
ipf_cells AS (
  SELECT event_type, CAST(user_id % 2 AS INT) AS variant,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM events GROUP BY 1, 2
),
ipf_tot AS (
  SELECT CAST(sum(n_obs) AS BIGINT) AS n,
         CAST(count(DISTINCT event_type) AS BIGINT) AS nt
  FROM ipf_cells
),
ipf_w0 AS (
  SELECT event_type, variant, n_obs, n, nt,
         CAST({IPF_SCALE} AS BIGINT) AS w
  FROM ipf_cells, ipf_tot
)"""
    ]
    prev = "ipf_w0"
    for i in range(1, rounds + 1):
        ctes.append(
            f"""
ipf_r{i} AS MATERIALIZED (
  SELECT event_type, variant, n_obs, n, nt,
         CAST(w * (n * {IPF_SCALE} // nt)
              // (CAST(sum(w * n_obs) OVER (PARTITION BY event_type)
                  AS BIGINT)) AS BIGINT) AS w
  FROM {prev}
),
ipf_c{i} AS MATERIALIZED (
  SELECT event_type, variant, n_obs, n, nt,
         CAST(w * (n * {IPF_SCALE} // 2)
              // (CAST(sum(w * n_obs) OVER (PARTITION BY variant)
                  AS BIGINT)) AS BIGINT) AS w
  FROM ipf_r{i}
)"""
        )
        prev = f"ipf_c{i}"
    ctes.append(
        f"""
ipf_raking AS (
  SELECT event_type, variant, n_obs, w AS w_mill FROM {prev}
)"""
    )
    return ",".join(ctes)




# ---------------------------------------------------------------------------
# stratified average treatment effect (post-stratification causal readout)
# ---------------------------------------------------------------------------

#: engagement strata (quartiles of the view-count proxy).
ATE_STRATA = 4




def stratified_ate(events: DataFrame) -> DataFrame:
    """Post-stratified average treatment effect: users stratify into
    engagement quartiles (view-count prefix-sum buckets — the
    propensity-proxy blocking step), the arm contrast is estimated
    WITHIN each stratum, and the ATE is the stratum-weighted sum —
    the causal design that removes covariate imbalance a raw
    difference-in-means inherits (here the arms are randomized, so
    this doubles as a balance check: contributions should agree).

    Per-stratum means come from exact BIGINT cent sums; each output
    row carries its weight n_g/N and contribution weight·diff, so
    ATE = Σ ate_contrib is readable off the result. Strata cuts use
    the same DISTINCT-score prefix machinery as the Qini deciles.

    Output per stratum: stratum, n_t, n_c, mean_t, mean_c, diff,
    weight, ate_contrib.
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
        ).alias("r"),
    ).select(
        "x", "r", (F.col("user_id") % 2).cast("int").alias("t")
    )
    per_v = per_user.groupBy("x").agg(F.count("*").alias("c"))
    tot = per_user.agg(F.count("*").alias("n_all"))
    # ascending EXCLUSIVE prefix count via the distributed-rank
    # kernel (inclusive running sum minus own count) — the distinct
    # view-count table is engagement-bounded in practice but
    # data-dependent in principle, so no unpartitioned window here
    # (same conversion as the qini/decile siblings, r4 verdict #6)
    strata = (
        _rank.global_ranked(per_v, [F.asc("x")], sum_cols=["c"])
        .withColumn("p", F.col("_run_c") - F.col("c"))
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            F.least(
                F.lit(ATE_STRATA - 1),
                (ATE_STRATA * F.col("p")) / F.col("n_all"),
            )
            .cast("int")
            .alias("stratum"),
            "n_all",
        )
    )
    cells = (
        per_user.join(strata, "x")
        .groupBy("stratum")
        .agg(
            F.max("n_all").alias("n_all"),
            F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).alias("n_t"),
            F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).alias("n_c"),
            F.sum(F.when(F.col("t") == 1, F.col("r")).otherwise(0)).alias(
                "s_t"
            ),
            F.sum(F.when(F.col("t") == 0, F.col("r")).otherwise(0)).alias(
                "s_c"
            ),
        )
    )
    mt = F.col("s_t").cast("double") / F.col("n_t").cast("double")
    mc = F.col("s_c").cast("double") / F.col("n_c").cast("double")
    wgt = (F.col("n_t") + F.col("n_c")).cast("double") / F.col(
        "n_all"
    ).cast("double")
    return cells.select(
        "stratum",
        "n_t",
        "n_c",
        F.round(mt, 6).alias("mean_t"),
        F.round(mc, 6).alias("mean_c"),
        F.round(mt - mc, 6).alias("diff"),
        F.round(wgt, 6).alias("weight"),
        F.round(wgt * (mt - mc), 6).alias("ate_contrib"),
    )




ORACLE_STRAT_ATE = f"""
sa_user AS (
  SELECT CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS r,
         CAST(user_id % 2 AS INT) AS t
  FROM events GROUP BY user_id
),
sa_strata AS (
  SELECT x, CAST(least({ATE_STRATA - 1},
                       ({ATE_STRATA} * p) // n_all) AS INT) AS stratum,
         n_all
  FROM (
    SELECT x,
           CAST(coalesce(sum(count(*)) OVER (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS p,
           (SELECT count(*) FROM sa_user) AS n_all
    FROM sa_user GROUP BY 1
  )
),
sa_cells AS (
  SELECT s.stratum,
         CAST(max(s.n_all) AS BIGINT) AS n_all,
         CAST(sum(CASE WHEN u.t = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_t,
         CAST(sum(CASE WHEN u.t = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_c,
         CAST(sum(CASE WHEN u.t = 1 THEN u.r ELSE 0 END) AS BIGINT)
           AS s_t,
         CAST(sum(CASE WHEN u.t = 0 THEN u.r ELSE 0 END) AS BIGINT)
           AS s_c
  FROM sa_user u JOIN sa_strata s ON u.x = s.x
  GROUP BY 1
),
stratified_ate AS (
  SELECT stratum, n_t, n_c,
         round(CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE), 6)
           AS mean_t,
         round(CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6)
           AS mean_c,
         round(CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)
               - CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6)
           AS diff,
         round(CAST(n_t + n_c AS DOUBLE) / CAST(n_all AS DOUBLE), 6)
           AS weight,
         round(CAST(n_t + n_c AS DOUBLE) / CAST(n_all AS DOUBLE)
               * (CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                  - CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE)), 6)
           AS ate_contrib
  FROM sa_cells
)
"""




# ---------------------------------------------------------------------------
# finite-window adstock (marketing carry-over) — exact dyadic arithmetic
# ---------------------------------------------------------------------------

#: adstock decay 1/2 per day with a 14-day memory: every carry-over
#: term is clicks / 2^age — an EXACT dyadic double (computed as
#: division by a shifted integer, never pow()), so the per-day sums
#: are bit-identical across engines regardless of fold order.
ADSTOCK_WINDOW_DAYS = 14




def adstock_daily(events: DataFrame) -> DataFrame:
    """Finite-window adstock: the marketing carry-over transform
    A_t = sum_{age<WINDOW} clicks_{t-age} / 2^age, plus the
    diminishing-returns saturation S_t = A_t / (A_t + K) with K the
    series' mean adstock — the two standard preprocessing steps of a
    media-mix model, computed exactly. Decay 1/2 with integer click
    counts makes every term an exact dyadic (clicks divided by a
    shifted-integer power of two, no pow()), so A_t is bit-identical
    in both engines with NO sequential fold at all — unlike the
    EWMA/Holt ladder, this is a plain day-grain range self-join,
    which is also what makes it embarrassingly parallel at 100 TB
    (the infinite-memory form needs the stateful fold; 14 days of
    memory is the standard adstock posture).

    Scale: the only corpus-sized stage is the per-day agg; the decay
    join is days x WINDOW rows, calendar-bounded. Output per day:
    day, clicks, rev_cents, adstock (round 6), saturated (round 6).
    """
    daily = _cut(
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("clicks"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                ).otherwise(0)
            ).alias("rev_cents"),
        )
    )  # day-grain; 3 consumers
    contrib = (
        daily.alias("t")
        .join(
            daily.alias("s"),
            (F.col("s.day") <= F.col("t.day"))
            & (
                F.datediff(F.col("t.day"), F.col("s.day"))
                < ADSTOCK_WINDOW_DAYS
            ),
        )
        .select(
            F.col("t.day").alias("day"),
            # pyspark's shiftleft() wants a literal bit count, so the
            # column-exponent shift goes through F.expr
            F.expr(
                "CAST(s.clicks AS DOUBLE)"
                " / CAST(shiftleft(CAST(1 AS BIGINT),"
                "        datediff(t.day, s.day)) AS DOUBLE)"
            ).alias("term"),
        )
        .groupBy("day")
        .agg(F.sum("term").alias("adstock"))
    )
    base = daily.join(contrib, "day")
    k = base.agg(
        (F.sum("adstock") / F.count("*")).alias("k")
    )
    return (
        base.crossJoin(F.broadcast(k))
        .select(
            "day",
            "clicks",
            "rev_cents",
            F.round(F.col("adstock"), 6).alias("adstock"),
            F.round(
                F.col("adstock") / (F.col("adstock") + F.col("k")), 6
            ).alias("saturated"),
        )
    )




ORACLE_ADSTOCK = f"""
ad_d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS clicks,
         CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS rev_cents
  FROM events GROUP BY 1
),
ad_a AS (
  SELECT t.day,
         sum(CAST(s.clicks AS DOUBLE)
             / CAST((CAST(1 AS BIGINT) << datediff('day', s.day, t.day))
                    AS DOUBLE)) AS adstock
  FROM ad_d t JOIN ad_d s
    ON s.day <= t.day
   AND datediff('day', s.day, t.day) < {ADSTOCK_WINDOW_DAYS}
  GROUP BY 1
),
ad_k AS (SELECT sum(adstock) / count(*) AS k FROM ad_a),
events_adstock AS (
  SELECT d.day, d.clicks, d.rev_cents,
         round(a.adstock, 6) AS adstock,
         round(a.adstock / (a.adstock + k.k), 6) AS saturated
  FROM ad_d d JOIN ad_a a USING (day), ad_k k
)
"""



# ---------------------------------------------------------------------------
# Mantel-Haenszel pooled odds ratio (r9): the stratified 2x2 summary.
# "Does weekend exposure change the purchase-vs-click odds, after
# controlling for time of day?" — pooling per-stratum odds with MH
# weights instead of collapsing the table avoids Simpson's-paradox
# reversals, which is exactly the failure mode of naive aggregate
# metrics at 100 TB.
# ---------------------------------------------------------------------------

#: strata = six-hour blocks of the day (4 strata).
MH_STRATUM_HOURS = 6
#: chi-square critical value, dof = 1, alpha = 0.05.
MH_CHI2_CRIT_05 = 3.841459


def mantel_haenszel(events: DataFrame) -> DataFrame:
    """MH pooled odds ratio + MH chi-square across hour-of-day strata.

    Per stratum s (six-hour block): the 2x2 of exposure (weekend) ×
    outcome (purchase vs click). OR_MH = Σ(a·d/n) / Σ(b·c/n); the MH
    chi-square compares Σa against its conditional expectation with
    the hypergeometric variance. Exactness: a·d, b·c, and the
    variance's margin products are exact BIGINT products with one
    double division per stratum; the across-strata sums round at 6
    (the fold-order rule); strata with n < 2 are dropped in both
    engines (zero-variance guard). Output (1 row): n_strata, n,
    sum_a, or_mh, chi2_mh, significant.

    Scale: one hash-agg to the (stratum, exposed, outcome) grain —
    16 cells — then constant-size arithmetic.
    """
    base = events.filter(
        F.col("event_type").isin("purchase", "click")
    ).select(
        # floor-div explicitly: a bare CAST(x / 6 AS INT) truncates in
        # Spark but rounds in DuckDB — the classic divergence trap.
        F.floor(F.hour("ts") / MH_STRATUM_HOURS)
        .cast("int")
        .alias("stratum"),
        F.dayofweek("ts").isin(1, 7).alias("exposed"),
        (F.col("event_type") == "purchase").alias("outcome"),
    )
    cells = base.groupBy("stratum").agg(
        F.sum(
            (F.col("exposed") & F.col("outcome")).cast("bigint")
        ).alias("a"),
        F.sum(
            (F.col("exposed") & ~F.col("outcome")).cast("bigint")
        ).alias("b"),
        F.sum(
            (~F.col("exposed") & F.col("outcome")).cast("bigint")
        ).alias("c"),
        F.sum(
            (~F.col("exposed") & ~F.col("outcome")).cast("bigint")
        ).alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    n = (a + b + c + d).alias("n")
    t = cells.select("stratum", a, b, c, d, n).filter(F.col("n") >= 2)
    nd = F.col("n").cast("double")
    terms = t.select(
        "stratum",
        "a",
        "n",
        ((a * d).cast("double") / nd).alias("ad_n"),
        ((b * c).cast("double") / nd).alias("bc_n"),
        (
            ((a + b) * (a + c)).cast("double") / nd
        ).alias("e_a"),
        (
            ((a + b) * (c + d)).cast("double")
            * ((a + c) * (b + d)).cast("double")
            / (nd * nd * (nd - 1))
        ).alias("v_a"),
    )
    agg = terms.agg(
        F.count("*").cast("int").alias("n_strata"),
        F.sum("n").alias("n"),
        F.sum("a").alias("sum_a"),
        F.round(F.sum("ad_n"), 6).alias("num"),
        F.round(F.sum("bc_n"), 6).alias("den"),
        F.round(F.sum("e_a"), 6).alias("e"),
        F.round(F.sum("v_a"), 6).alias("v"),
    )
    chi2 = F.round(
        (F.col("sum_a").cast("double") - F.col("e"))
        * (F.col("sum_a").cast("double") - F.col("e"))
        / F.col("v"),
        6,
    )
    return agg.select(
        "n_strata",
        "n",
        "sum_a",
        F.round(F.col("num") / F.col("den"), 6).alias("or_mh"),
        chi2.alias("chi2_mh"),
        (chi2 > MH_CHI2_CRIT_05).alias("significant"),
    )


ORACLE_MANTEL_HAENSZEL = f"""
mh_base AS (
  SELECT CAST(hour(ts) // {MH_STRATUM_HOURS} AS INT) AS stratum,
         (dayofweek(ts) + 1) IN (1, 7) AS exposed,
         event_type = 'purchase' AS outcome
  FROM events WHERE event_type IN ('purchase', 'click')
),
mh_cells AS (
  SELECT stratum,
         CAST(sum(CASE WHEN exposed AND outcome THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(sum(CASE WHEN exposed AND NOT outcome THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(sum(CASE WHEN NOT exposed AND outcome THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(sum(CASE WHEN NOT exposed AND NOT outcome THEN 1 ELSE 0
              END) AS BIGINT) AS d
  FROM mh_base GROUP BY 1
),
mh_t AS (
  SELECT stratum, a, b, c, d, a + b + c + d AS n
  FROM mh_cells WHERE a + b + c + d >= 2
),
mh_terms AS (
  SELECT stratum, a, n,
         CAST(a * d AS DOUBLE) / CAST(n AS DOUBLE) AS ad_n,
         CAST(b * c AS DOUBLE) / CAST(n AS DOUBLE) AS bc_n,
         CAST((a + b) * (a + c) AS DOUBLE) / CAST(n AS DOUBLE) AS e_a,
         CAST((a + b) * (c + d) AS DOUBLE)
           * CAST((a + c) * (b + d) AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              * (CAST(n AS DOUBLE) - 1)) AS v_a
  FROM mh_t
),
mh_agg AS (
  SELECT CAST(count(*) AS INT) AS n_strata,
         CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(a) AS BIGINT) AS sum_a,
         round(sum(ad_n), 6) AS num,
         round(sum(bc_n), 6) AS den,
         round(sum(e_a), 6) AS e,
         round(sum(v_a), 6) AS v
  FROM mh_terms
),
events_mh_odds AS (
  SELECT n_strata, n, sum_a,
         round(num / den, 6) AS or_mh,
         round((CAST(sum_a AS DOUBLE) - e) * (CAST(sum_a AS DOUBLE) - e)
               / v, 6) AS chi2_mh,
         round((CAST(sum_a AS DOUBLE) - e) * (CAST(sum_a AS DOUBLE) - e)
               / v, 6) > {MH_CHI2_CRIT_05} AS significant
  FROM mh_agg
)
"""
