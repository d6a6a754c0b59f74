"""[EXT] Economics, inequality & operations research: concentration indices, inventory/queueing policies.

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

from .causal import AB_METRIC_TYPE
from .fits import AR2_VAL_SCALE



def rfm_segments(events: DataFrame) -> DataFrame:
    """RFM customer segmentation — the classic marketing rollup:
    per-user Recency (ms since last purchase, against the corpus max
    ts), Frequency (purchase count), Monetary (purchase total), each
    discretized into quintiles, plus the composed 3-digit segment
    code. One fact hash-agg to the user grain; the corpus max is a
    broadcast 1-row agg; each quintile comes from the distributed
    ``ranking.global_ranked`` kernel (range exchange + local
    row_number + broadcast offsets) with the exact closed-form ntile —
    no single-partition sort at any |users|, and the window-ntile
    oracle hash-matches because the order keys are tie-broken unique.
    """
    purchases = events.filter(F.col("event_type") == AB_METRIC_TYPE)
    per_user = purchases.groupBy("user_id").agg(
        F.unix_millis(F.max("ts")).alias("last_ms"),
        F.count("*").alias("frequency"),
        F.round(F.sum("value"), 4).alias("monetary"),
    )
    corpus_max = purchases.agg(
        F.unix_millis(F.max("ts")).alias("corpus_max_ms")
    )
    enriched = per_user.join(F.broadcast(corpus_max)).withColumn(
        "recency_ms", F.col("corpus_max_ms") - F.col("last_ms")
    )
    # quintile ranks: recency ASC (small gap = best), freq/monetary
    # DESC (ties broken by user_id for determinism). Three chained
    # global_ranked passes — each a range exchange + local window, no
    # single-partition sort; the kernel preserves every input column
    # so the three ranks accumulate without self-joins.
    cur = enriched.select(
        "user_id", "recency_ms", "frequency", "monetary"
    )
    passes = (
        ("r_score", [F.col("recency_ms"), F.col("user_id")]),
        ("f_score", [F.desc("frequency"), F.col("user_id")]),
        ("m_score", [F.desc("monetary"), F.col("user_id")]),
    )
    for i, (score, order) in enumerate(passes):
        # cut between passes (r10, guide §2.4/§1.2):
        # each pass's repartitionByRange runs a SAMPLING job over its
        # child, so chained passes re-execute every preceding pass's
        # full lineage once per later pass — O(k²) passes over the
        # user-grain table for k chained ranks. Materializing the
        # user-grain state between passes makes it O(k) at any scale;
        # ranks are pure integer functions of the total order, so the
        # result is bit-identical.
        if i > 0:
            cur = _cut(cur)
        ranked = _rank.global_ranked(cur, order)
        cur = ranked.withColumn(
            score,
            _rank.ntile_expr(5, F.col("_rk"), F.col("_n_total")),
        ).drop("_rk", "_n_total")
    return cur.withColumn(
        "segment",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ),
    )




ORACLE_RFM_SEGMENTS = f"""
rfm_user AS (
  SELECT user_id,
         epoch_ms(max(ts)) AS last_ms,
         CAST(count(*) AS BIGINT) AS frequency,
         round(sum(value), 4) AS monetary
  FROM events WHERE event_type = '{AB_METRIC_TYPE}'
  GROUP BY user_id
),
rfm_scored AS (
  SELECT user_id,
         (SELECT epoch_ms(max(ts)) FROM events
          WHERE event_type = '{AB_METRIC_TYPE}') - last_ms AS recency_ms,
         frequency, monetary
  FROM rfm_user
),
rfm_segments AS (
  SELECT user_id, recency_ms, frequency, monetary,
         CAST(ntile(5) OVER (ORDER BY recency_ms, user_id) AS INT)
           AS r_score,
         CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id) AS INT)
           AS f_score,
         CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id) AS INT)
           AS m_score,
         CAST(ntile(5) OVER (ORDER BY recency_ms, user_id) AS VARCHAR)
           || CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id)
                   AS VARCHAR)
           || CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id)
                   AS VARCHAR) AS segment
  FROM rfm_scored
)
"""




def spend_gini(events: DataFrame) -> DataFrame:
    """Gini coefficient of per-user spend — the concentration metric
    behind "do whales dominate revenue" (and, pointed at token counts
    per document, "does one source dominate the training mix").

    Exact rank formulation: G = 2·Σ(r_i·x_i) / (n·Σx) − (n+1)/n with
    ranks over ascending spend. Ties are handled at the VALUE grain —
    for a tie group of c users with spend v at cumulative position p,
    Σ ranks = c·p + c(c+1)/2, all integral; the value-weighted rank
    sum multiplies v once per group. Ranks come from
    ``ranking.value_prefix`` (no data-sized global window).

    Output (1 row): n_users, total_spend, gini (rounded 6).
    """
    per_user = (
        events.filter(F.col("event_type") == AB_METRIC_TYPE)
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 4).alias("v"))
    )
    per_value = per_user.groupBy("v").agg(F.count("*").alias("c"))
    ranked = _rank.value_prefix(per_value, ["c"], "v").withColumnRenamed(
        "_pre_c", "p"
    )
    # per tie group: sum of ranks = c*p + c(c+1)/2 (ranks 1-based)
    agg = ranked.agg(
        F.sum("c").alias("n"),
        F.round(F.sum(F.col("v") * F.col("c")), 4).alias("total"),
        F.round(
            F.sum(
                F.col("v")
                * (
                    F.col("c") * F.col("p")
                    + F.col("c") * (F.col("c") + 1) / F.lit(2.0)
                )
            ),
            4,
        ).alias("rank_weighted"),
    )
    n = F.col("n")
    return agg.select(
        n.alias("n_users"),
        F.col("total").alias("total_spend"),
        F.round(
            F.lit(2.0) * F.col("rank_weighted")
            / (n * F.col("total"))
            - (n + 1).cast("double") / n,
            6,
        ).alias("gini"),
    )




ORACLE_SPEND_GINI = f"""
gn_u AS (
  SELECT user_id, round(sum(value), 4) AS v
  FROM events WHERE event_type = '{AB_METRIC_TYPE}'
  GROUP BY user_id
),
gn_v AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM gn_u GROUP BY 1),
gn_r AS (
  SELECT v, c,
         CAST(coalesce(sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS p
  FROM gn_v
),
gn_a AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         round(sum(v * c), 4) AS total,
         round(sum(v * (c * p + c * (c + 1) / 2.0)), 4)
           AS rank_weighted
  FROM gn_r
),
spend_gini AS (
  SELECT n AS n_users, total AS total_spend,
         round(2.0 * rank_weighted / (n * total)
               - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
  FROM gn_a
)
"""




# ---------------------------------------------------------------------------
# revenue concentration: Lorenz curve + Gini coefficient
# ---------------------------------------------------------------------------

LORENZ_POINTS = 10




def revenue_concentration(events: DataFrame) -> DataFrame:
    """Lorenz curve (decile grain) + exact Gini coefficient of
    per-user purchase revenue — the concentration readout behind
    "top X% of users drive Y% of revenue". Spend is integer cents, so
    ranks, cumulative sums, and the Gini rank formula

        G = 2 * sum(i * g_i) / (n * sum(g)) - (n + 1) / n

    are exact integer aggregates until two final divisions (round 6).

    The user-grain rank i comes from the distributed
    ``ranking.global_ranked`` kernel (range exchange + local
    row_number + broadcast prefix offsets) — no single-partition sort
    at any |users|; the corpus-sized work is the one groupBy above
    it. Output rows: 'gini' + one Lorenz point per decile
    (cum_pop_frac, cum_revenue_frac round 6).
    """
    spend = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.expr(f"CAST(floor(value * {AR2_VAL_SCALE}) AS BIGINT)")
            ).alias("g")
        )
    )
    ranked = _rank.global_ranked(
        spend, [F.col("g"), F.col("user_id")]
    ).select("g", F.col("_rk").alias("i"))
    gini = ranked.agg(
        F.count("*").alias("n"),
        F.sum("g").alias("sg"),
        F.sum(F.col("i") * F.col("g")).alias("sig"),
    ).select(
        F.lit("gini").alias("stat"),
        F.lit(None).cast("int").alias("decile"),
        F.round(
            F.lit(2) * F.col("sig")
            / (F.col("n") * F.col("sg").cast("double"))
            - (F.col("n") + 1) / F.col("n").cast("double"),
            6,
        ).alias("value"),
        F.lit(None).cast("double").alias("cum_revenue_frac"),
    )
    totals = ranked.agg(
        F.count("*").alias("n"), F.sum("g").alias("sg")
    )
    lorenz = (
        ranked.crossJoin(F.broadcast(totals))
        .select(
            F.expr(f"(i * {LORENZ_POINTS} + n - 1) DIV n").alias(
                "decile"
            ),
            "g",
            "sg",
        )
        .groupBy("decile")
        .agg(F.sum("g").alias("dg"), F.first("sg").alias("sg"))
        .select(
            F.lit("lorenz").alias("stat"),
            F.col("decile").cast("int"),
            (F.col("decile") / F.lit(float(LORENZ_POINTS))).alias(
                "value"
            ),
            F.round(
                F.sum("dg").over(
                    Window.orderBy("decile").rowsBetween(
                        Window.unboundedPreceding, 0
                    )
                )
                / F.col("sg").cast("double"),
                6,
            ).alias("cum_revenue_frac"),
        )
    )
    return gini.unionByName(lorenz)




ORACLE_REVENUE_CONCENTRATION = f"""
rc_spend AS (
  SELECT user_id,
         CAST(sum(CAST(floor(value * {AR2_VAL_SCALE}) AS BIGINT))
              AS BIGINT) AS g
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1
),
rc_ranked AS (
  SELECT g, row_number() OVER (ORDER BY g, user_id) AS i FROM rc_spend
),
rc_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(g) AS BIGINT) AS sg,
         CAST(sum(i * g) AS BIGINT) AS sig
  FROM rc_ranked
),
rc_lorenz AS (
  SELECT (i * {LORENZ_POINTS} + t.n - 1) // t.n AS decile,
         CAST(sum(g) AS BIGINT) AS dg, max(t.sg) AS sg
  FROM rc_ranked r, rc_tot t
  GROUP BY 1
),
revenue_concentration AS (
  SELECT 'gini' AS stat, CAST(NULL AS INT) AS decile,
         round(2 * sig / (n * CAST(sg AS DOUBLE))
               - (n + 1) / CAST(n AS DOUBLE), 6) AS value,
         CAST(NULL AS DOUBLE) AS cum_revenue_frac
  FROM rc_tot
  UNION ALL
  SELECT 'lorenz', CAST(decile AS INT),
         decile / CAST({LORENZ_POINTS} AS DOUBLE),
         round(sum(dg) OVER (ORDER BY decile
                             ROWS UNBOUNDED PRECEDING)
               / CAST(sg AS DOUBLE), 6)
  FROM rc_lorenz
)
"""




# ---------------------------------------------------------------------------
# log-log price elasticity by brand
# ---------------------------------------------------------------------------

def price_elasticity(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Own-price elasticity of demand per brand by the log-log OLS
    slope: elasticity = cov(ln q, ln p) / var(ln p) over line items
    (unit price p = extendedprice/quantity) — the pricing-analytics
    staple; |elasticity| > 1 marks elastic brands. One broadcast dim
    join + one hash-agg of five log moments per brand; the slope is
    a single rounded ratio (cancellation noise sits ~1e-9 below the
    6-dp edge).

    Output: (brand, n, elasticity, avg_ln_price, avg_ln_qty).
    """
    rows = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        lineitem.l_partkey == F.col("p_partkey"),
    ).select(
        F.col("p_brand").alias("brand"),
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("x"),
        F.log("l_quantity").alias("y"),
    )
    m = rows.groupBy("brand").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return m.select(
        "brand",
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("elasticity"),
        F.round(F.col("sx") / F.col("n"), 6).alias("avg_ln_price"),
        F.round(F.col("sy") / F.col("n"), 6).alias("avg_ln_qty"),
    )




ORACLE_ELASTICITY = """
el_rows AS (
  SELECT p.p_brand AS brand,
         ln(l.l_extendedprice / l.l_quantity) AS x,
         ln(l.l_quantity) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
el_m AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM el_rows GROUP BY 1
),
price_elasticity AS (
  SELECT brand, n,
         round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
           AS elasticity,
         round(sx / n, 6) AS avg_ln_price,
         round(sy / n, 6) AS avg_ln_qty
  FROM el_m
)
"""




# ---------------------------------------------------------------------------
# Theil inequality decomposition (customer revenue, between/within nations)
# ---------------------------------------------------------------------------


def theil_decomposition(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Theil T inequality index of customer revenue, decomposed into
    BETWEEN-nation and WITHIN-nation components — the additive
    decomposition Gini/Lorenz (``events_revenue_gini``) cannot give:
    T_total = Σ_g share_g · T_g + Σ_g share_g · ln(mean_g / mean).

    One order-grain agg to customer cents (exact BIGINT), one
    customer→nation join (nation broadcast), one nation-grain moment
    agg (n_g, Σx, Σ x·ln x); the global row attaches by a 1-row
    broadcast cross join. The only doubles are the per-group Σ x·ln x
    (noise ~1e-12 relative to T_g at the 6-dp edge) and the ln of
    exact-integer ratios, identical IEEE scalars in both engines.

    Output per nation: nation, n_cust, s_cents, theil_within_g
    (T_g), between_term, within_term.
    """
    cust = orders.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
        ).alias("x")
    )
    grp = (
        cust.join(
            customer.select("c_custkey", "c_nationkey"),
            cust.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("ng"),
            F.sum("x").alias("sg"),
            F.sum(
                F.col("x").cast("double") * F.log(F.col("x").cast("double"))
            ).alias("xlx"),
        )
    )
    tot = grp.agg(
        F.sum("ng").alias("n"), F.sum("sg").alias("s")
    )
    sgd = F.col("sg").cast("double")
    sd = F.col("s").cast("double")
    tg = F.col("xlx") / sgd - F.log(sgd / F.col("ng").cast("double"))
    share = sgd / sd
    between = share * F.log(
        (sgd / F.col("ng").cast("double"))
        / (sd / F.col("n").cast("double"))
    )
    return grp.crossJoin(F.broadcast(tot)).select(
        "nation",
        F.col("ng").alias("n_cust"),
        F.col("sg").alias("s_cents"),
        F.round(tg, 6).alias("theil_within_g"),
        F.round(between, 6).alias("between_term"),
        F.round(share * tg, 6).alias("within_term"),
    )




ORACLE_THEIL = """
th_cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1
),
th_g AS (
  SELECT n.n_name AS nation,
         CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(t.x) AS BIGINT) AS sg,
         sum(CAST(t.x AS DOUBLE) * ln(CAST(t.x AS DOUBLE))) AS xlx
  FROM th_cust t
  JOIN customer c ON t.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1
),
th_tot AS (
  SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(sg) AS BIGINT) AS s
  FROM th_g
),
theil_decomposition AS (
  SELECT g.nation, g.ng AS n_cust, g.sg AS s_cents,
         round(g.xlx / CAST(g.sg AS DOUBLE)
               - ln(CAST(g.sg AS DOUBLE) / CAST(g.ng AS DOUBLE)),
               6) AS theil_within_g,
         round(CAST(g.sg AS DOUBLE) / CAST(t.s AS DOUBLE)
               * ln((CAST(g.sg AS DOUBLE) / CAST(g.ng AS DOUBLE))
                    / (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))),
               6) AS between_term,
         round(CAST(g.sg AS DOUBLE) / CAST(t.s AS DOUBLE)
               * (g.xlx / CAST(g.sg AS DOUBLE)
                  - ln(CAST(g.sg AS DOUBLE) / CAST(g.ng AS DOUBLE))),
               6) AS within_term
  FROM th_g g, th_tot t
)
"""




# ---------------------------------------------------------------------------
# order backlog curve (open orders over time, sweep line)
# ---------------------------------------------------------------------------


def orders_backlog_curve(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Open-order backlog over time: an order opens at o_orderdate and
    closes when its LAST lineitem ships (max l_shipdate — the fixture's
    fulfillment timestamp), so
    the backlog on day d = Σ(+1 opens, −1 closes) up to d — the
    sweep-line / interval-stabbing reduction (the fulfillment-ops
    sibling of the session concurrency curve). Little's law readers
    can divide avg backlog by the open rate to recover lead time.

    One lineitem hash-agg (max ship day per order), one order-grain
    join, then ±1 deltas collapse to the DAY grain — the cumulative
    window runs over a few thousand day rows at ANY fact scale, so
    the single-partition prefix is data-independent.

    Output per day: day, n_opened, n_closed, backlog.
    """
    closes = lineitem.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("close_day")
    )
    spans = orders.select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.to_date("o_orderdate").alias("open_day"),
    ).join(closes, "l_orderkey")
    deltas = spans.select(
        F.col("open_day").alias("day"),
        F.lit(1).alias("opened"),
        F.lit(0).alias("closed"),
    ).unionByName(
        spans.select(
            F.col("close_day").alias("day"),
            F.lit(0).alias("opened"),
            F.lit(1).alias("closed"),
        )
    )
    per_day = deltas.groupBy("day").agg(
        F.sum("opened").alias("n_opened"),
        F.sum("closed").alias("n_closed"),
    )
    wc = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return per_day.select(
        "day",
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed"))
        .over(wc)
        .alias("backlog"),
    )




ORACLE_BACKLOG = """
bk_close AS (
  SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS close_day
  FROM lineitem GROUP BY 1
),
bk_span AS (
  SELECT CAST(o.o_orderdate AS DATE) AS open_day, c.close_day
  FROM orders o JOIN bk_close c ON o.o_orderkey = c.l_orderkey
),
bk_delta AS (
  SELECT open_day AS day, 1 AS opened, 0 AS closed FROM bk_span
  UNION ALL
  SELECT close_day AS day, 0 AS opened, 1 AS closed FROM bk_span
),
bk_day AS (
  SELECT day, CAST(sum(opened) AS BIGINT) AS n_opened,
         CAST(sum(closed) AS BIGINT) AS n_closed
  FROM bk_delta GROUP BY 1
),
orders_backlog_curve AS (
  SELECT day, n_opened, n_closed,
         CAST(sum(n_opened - n_closed) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS backlog
  FROM bk_day
)
"""




# ---------------------------------------------------------------------------
# Hill tail-index estimator (power-law heaviness of the spend tail)
# ---------------------------------------------------------------------------

#: tail fraction (top 1/20 of users by spend).
HILL_TAIL_DIV = 20




def hill_tail_index(events: DataFrame) -> DataFrame:
    """Hill estimator of the spend distribution's power-law tail
    index: over the top ~5% of users by spend, alpha =
    k / Σ ln(x_i / x_min) — the heavy-tail diagnostic behind "is
    revenue Pareto enough that whale outliers are structural, not
    anomalies" (alpha ≤ 2 means infinite variance: cap-based
    anomaly rules will misfire forever). Companion to the Zipf fit
    on term frequencies, pointed at money.

    The tail cut uses the descending DISTINCT-value prefix machinery
    (a straddling tie group joins the tail as a unit; k_eff is
    reported); ln terms are per-user scalars summed over the
    k-bounded tail only.

    Output (1 row): n_users, k_tail, xmin_cents, alpha.
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
    per_v = per_user.groupBy("uc").agg(F.count("*").alias("c"))
    tot = per_user.agg(F.count("*").alias("n_all"))
    # distinct spend-cents is effectively user-grain (cent totals are
    # nearly unique), so the descending exclusive prefix comes from
    # the distributed-rank kernel, not an unpartitioned window.
    tail_vals = (
        _rank.global_ranked(per_v, [F.desc("uc")], sum_cols=["c"])
        .withColumn("p", F.col("_run_c") - F.col("c"))
        .crossJoin(F.broadcast(tot))
        .filter(
            F.col("p") < F.expr(f"n_all DIV {HILL_TAIL_DIV}")
        )
        .select("uc", "c", "n_all")
    )
    m = tail_vals.agg(
        F.max("n_all").alias("n_users"),
        F.sum("c").alias("k_tail"),
        F.min("uc").alias("xmin"),
        F.sum(
            F.col("c").cast("double")
            * F.log(F.col("uc").cast("double"))
        ).alias("slnx"),
    )
    alpha = F.col("k_tail").cast("double") / (
        F.col("slnx")
        - F.col("k_tail").cast("double")
        * F.log(F.col("xmin").cast("double"))
    )
    return m.select(
        "n_users",
        "k_tail",
        F.col("xmin").alias("xmin_cents"),
        F.round(alpha, 6).alias("alpha"),
    )




ORACLE_HILL = f"""
hl_u AS (
  SELECT CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS uc
  FROM events WHERE event_type = '{AB_METRIC_TYPE}'
  GROUP BY user_id
),
hl_v AS (
  SELECT uc, CAST(count(*) AS BIGINT) AS c,
         CAST(coalesce(sum(count(*)) OVER (ORDER BY uc DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS p,
         (SELECT count(*) FROM hl_u) AS n_all
  FROM hl_u GROUP BY 1
),
hl_m AS (
  SELECT CAST(max(n_all) AS BIGINT) AS n_users,
         CAST(sum(c) AS BIGINT) AS k_tail,
         CAST(min(uc) AS BIGINT) AS xmin,
         sum(CAST(c AS DOUBLE) * ln(CAST(uc AS DOUBLE))) AS slnx
  FROM hl_v WHERE p < n_all // {HILL_TAIL_DIV}
),
hill_tail_index AS (
  SELECT n_users, k_tail, xmin AS xmin_cents,
         round(CAST(k_tail AS DOUBLE)
               / (slnx - CAST(k_tail AS DOUBLE)
                         * ln(CAST(xmin AS DOUBLE))), 6) AS alpha
  FROM hl_m
)
"""




# ---------------------------------------------------------------------------
# newsvendor stock levels (critical-fractile empirical quantile)
# ---------------------------------------------------------------------------

#: critical ratio cu/(cu+co) as an exact fraction (3/4: underage
#: costs 3x overage).
NV_CR_NUM, NV_CR_DEN = 3, 4


#: minimum demand days for a product to be stocked by model.
NV_MIN_DAYS = 5




def newsvendor_stock(lineitem: DataFrame) -> DataFrame:
    """Newsvendor optimal stock per product: the smallest stock level
    q with empirical demand CDF F(q) >= cu/(cu+co) — the classic
    single-period inventory rule, solved on the exact per-product
    demand-day distribution (days with demand; the intermittency
    correction is Croston's job one query over). The quantile pick is
    integer cross-multiplication (cum·DEN >= NUM·n), so no float
    touches the decision; achieved service level is reported beside
    the target.

    One (product, day) hash-agg, per-product prefix sums over the
    DISTINCT demand-value grain (bounded by a product's demand-day
    count), one filtered argmin via the min-over-qualifying trick.

    Output per product: product, n_days, stock_q, service_level.
    """
    dd = (
        lineitem.groupBy(
            F.col("l_partkey").alias("product"),
            F.to_date("l_shipdate").alias("day"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
    )
    per_v = dd.groupBy("product", "q").agg(F.count("*").alias("c"))
    wv = Window.partitionBy("product").orderBy("q").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # n_days = sum(c) over the SAME product partitioning (full frame)
    # instead of a second dd aggregation + join: sum of per-value day
    # counts IS the product's demand-day count, so the value is
    # identical and the plan drops one lineitem scan chain and the
    # tot join (r10, guide §2.4 — two operations keyed the same way
    # share one exchange). cum then feeds two consumers (pick,
    # achieved); the cut stops the remaining subtree from
    # inlining twice (4 scans -> 1, measured).
    wp = Window.partitionBy("product")
    cum = _cut(
        per_v.withColumn("cum", F.sum("c").over(wv))
        .withColumn("n_days", F.sum("c").over(wp))
        .filter(F.col("n_days") >= NV_MIN_DAYS)
        .drop("c")
    )
    qualifying = cum.filter(
        F.col("cum") * NV_CR_DEN >= NV_CR_NUM * F.col("n_days")
    )
    pick = qualifying.groupBy("product").agg(
        F.max("n_days").alias("n_days"),
        F.min("q").alias("stock_q"),
    )
    achieved = cum.select(
        F.col("product").alias("p2"),
        F.col("q").alias("q2"),
        "cum",
    )
    return (
        pick.join(
            achieved,
            (pick.product == achieved.p2)
            & (pick.stock_q == achieved.q2),
        )
        .select(
            "product",
            "n_days",
            "stock_q",
            F.round(
                F.col("cum") / F.col("n_days").cast("double"), 6
            ).alias("service_level"),
        )
    )




ORACLE_NEWSVENDOR = f"""
nv_dd AS (
  SELECT l_partkey AS product, CAST(l_shipdate AS DATE) AS day,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
),
nv_v AS (
  SELECT product, q, CAST(count(*) AS BIGINT) AS c
  FROM nv_dd GROUP BY 1, 2
),
nv_cum AS (
  SELECT v.product, v.q,
         CAST(sum(v.c) OVER (PARTITION BY v.product ORDER BY v.q
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         t.n_days
  FROM nv_v v
  JOIN (SELECT product, CAST(count(*) AS BIGINT) AS n_days
        FROM nv_dd GROUP BY 1) t USING (product)
  WHERE t.n_days >= {NV_MIN_DAYS}
),
nv_pick AS (
  SELECT product, max(n_days) AS n_days, min(q) AS stock_q
  FROM nv_cum
  WHERE cum * {NV_CR_DEN} >= {NV_CR_NUM} * n_days
  GROUP BY 1
),
newsvendor_stock AS (
  SELECT p.product, p.n_days, p.stock_q,
         round(c.cum / CAST(p.n_days AS DOUBLE), 6) AS service_level
  FROM nv_pick p
  JOIN nv_cum c ON p.product = c.product AND p.stock_q = c.q
)
"""




# ---------------------------------------------------------------------------
# order service level (fill rate + p90 lead time per month)
# ---------------------------------------------------------------------------

#: on-time threshold (days from order to line ship).
SL_ON_TIME_DAYS = 30




def service_level_report(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Monthly order-line service level: fill rate (share of lines
    shipped within {d} days of the order date) and the p90 lead time
    — the fulfillment SLA readout beside the backlog curve. The p90
    is an exact empirical quantile via per-month prefix sums on the
    DISTINCT lead-day grain with an integer cross-multiplied cut
    (cum·10 >= 9·n) — no float, no global sort.

    Output per month: month, n_lines, fill_rate, p90_lead_days.
    """
    lines = lineitem.join(
        orders.select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.to_date("o_orderdate").alias("od"),
        ),
        "l_orderkey",
    ).select(
        (F.year("od") * 100 + F.month("od")).alias("month"),
        F.datediff(F.to_date("l_shipdate"), F.col("od")).alias("lead"),
    )
    per_v = lines.groupBy("month", "lead").agg(
        F.count("*").alias("c")
    )
    wv = Window.partitionBy("month").orderBy("lead").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = lines.groupBy("month").agg(
        F.count("*").alias("n_lines"),
        F.sum(
            (F.col("lead") <= SL_ON_TIME_DAYS).cast("int")
        ).alias("on_time"),
    )
    cum = per_v.withColumn("cum", F.sum("c").over(wv)).join(
        tot, "month"
    )
    p90 = (
        cum.filter(F.col("cum") * 10 >= 9 * F.col("n_lines"))
        .groupBy("month")
        .agg(F.min("lead").alias("p90_lead_days"))
    )
    return (
        tot.join(p90, "month")
        .select(
            "month",
            "n_lines",
            F.round(
                F.col("on_time") / F.col("n_lines").cast("double"), 6
            ).alias("fill_rate"),
            "p90_lead_days",
        )
    )




service_level_report.__doc__ = service_level_report.__doc__.format(
    d=SL_ON_TIME_DAYS
)




ORACLE_SERVICE_LEVEL = f"""
sl_lines AS (
  SELECT date_part('year', CAST(o.o_orderdate AS DATE)) * 100
         + date_part('month', CAST(o.o_orderdate AS DATE)) AS month,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS lead
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
sl_v AS (
  SELECT month, lead, CAST(count(*) AS BIGINT) AS c
  FROM sl_lines GROUP BY 1, 2
),
sl_tot AS (
  SELECT month, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN lead <= {SL_ON_TIME_DAYS} THEN 1 ELSE 0 END)
              AS BIGINT) AS on_time
  FROM sl_lines GROUP BY 1
),
sl_cum AS (
  SELECT v.month, v.lead,
         CAST(sum(v.c) OVER (PARTITION BY v.month ORDER BY v.lead
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         t.n_lines
  FROM sl_v v JOIN sl_tot t USING (month)
),
sl_p90 AS (
  SELECT month, CAST(min(lead) AS BIGINT) AS p90_lead_days
  FROM sl_cum WHERE cum * 10 >= 9 * n_lines
  GROUP BY 1
),
service_level_report AS (
  SELECT t.month, t.n_lines,
         round(t.on_time / CAST(t.n_lines AS DOUBLE), 6) AS fill_rate,
         p.p90_lead_days
  FROM sl_tot t JOIN sl_p90 p USING (month)
)
"""




# ---------------------------------------------------------------------------
# Erlang-B blocking curve (exact integer recursion)
# ---------------------------------------------------------------------------

#: staffing grid: blocking probability for 1..S servers at the
#: corpus-derived offered load. 12 servers x the A cap below keeps
#: every intermediate within DECIMAL(38,0)/HUGEINT (see envelope in
#: the docstring).
ERLANG_MAX_SERVERS = 12


#: offered-load cap (erlangs): above this, blocking at <= 12 servers
#: is ~1 anyway and a^s would overflow 38 digits; the output carries
#: a `capped` flag so a reader knows the curve saturated.
ERLANG_A_CAP = 400


#: blocking probability in integer millionths (the HITS/PageRank
#: fixed-point convention).
ERLANG_SCALE = 1_000_000




def erlang_blocking_curve(orders: DataFrame) -> DataFrame:
    """Erlang-B staffing curve: blocking probability B(s, a) for
    s = 1..{S} servers at the data-derived offered load a (mean
    orders per hour, 1-hour mean handle time — the M/M/s/s loss
    model's "how many parallel agents do we staff so arrivals aren't
    turned away"). The last "doable" entry on the deferred idea
    ledger (r5 verdict #6).

    EXACT INTEGER recursion — no float touches any value: with
    J(s) = 1/B(s,a) * a^s, the Erlang-B recurrence
    B(s) = a*B(s-1) / (s + a*B(s-1)) becomes the integer recursion
        J(0) = 1;  J(s) = a^s + s * J(s-1)
    (equivalently J(s) = sum_k a^k * s!/k!), carried in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) on a 1-row frame,
    unrolled {S} levels exactly like PageRank/BFS/PACF. The output
    blocking_ppm = (a^s * 1e6) div J(s) is one exact integer
    division (the changepoint divmod split), so the whole curve
    hash-matches by construction.

    Overflow envelope: a <= {CAP} (capped, flagged) and s <= {S}
    give a^s * 1e6 <= 400^12 * 1e6 ~ 1.7e37 < 1e38, and
    J(s) <= max(a^s * e, s! * e^a) stays under 1e38 for the same
    range (a >= s: J ~ a^s * (1 + s/a + ...); a < s <= 12:
    J <= 12! * e^12 ~ 7.8e13).

    Scale: ONE global count-agg over orders (n_orders, n_days) —
    the only corpus-sized stage; the recursion is driver-free column
    algebra on the broadcast 1-row load. Output per s: servers,
    offered_load, capped, blocking_ppm.
    """
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tot = orders.agg(
        F.count("*").alias("n"),
        F.countDistinct(F.to_date("o_orderdate")).alias("days"),
    )
    base = tot.select(
        F.expr(
            f"least((n + days * 24 - 1) div (days * 24),"
            f" cast({ERLANG_A_CAP} as bigint))"
        ).alias("a_int"),
        F.expr(
            f"cast((n + days * 24 - 1) div (days * 24)"
            f" > {ERLANG_A_CAP} as int)"
        ).alias("capped"),
    ).select(
        "a_int",
        "capped",
        dec(F.col("a_int")).alias("a"),
        dec(F.lit(1)).alias("ap"),
        dec(F.lit(1)).alias("j"),
    )
    levels = []
    cur = base
    for s in range(1, ERLANG_MAX_SERVERS + 1):
        cur = cur.select(
            "a_int",
            "capped",
            "a",
            (F.col("ap") * F.col("a")).alias("ap"),
            (
                F.col("ap") * F.col("a") + F.lit(s) * F.col("j")
            ).alias("j"),
        )
        levels.append(
            cur.select(
                F.lit(s).alias("servers"),
                F.col("a_int").alias("offered_load"),
                "capped",
                "ap",
                "j",
            )
        )
    allv = levels[0]
    for fr in levels[1:]:
        allv = allv.unionByName(fr)
    num = F.col("ap") * F.lit(ERLANG_SCALE).cast("decimal(38,0)")
    return allv.select(
        "servers",
        "offered_load",
        "capped",
        ((num - num % F.col("j")) / F.col("j"))
        .cast("bigint")
        .alias("blocking_ppm"),
    )




erlang_blocking_curve.__doc__ = erlang_blocking_curve.__doc__.format(
    S=ERLANG_MAX_SERVERS, CAP=ERLANG_A_CAP
)




def oracle_erlang_blocking(
    max_servers: int = ERLANG_MAX_SERVERS,
    cap: int = ERLANG_A_CAP,
    scale: int = ERLANG_SCALE,
) -> str:
    ctes = [
        """
eb_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT)
           AS days
  FROM orders
)""",
        f"""
eb_0 AS (
  SELECT least((n + days * 24 - 1) // (days * 24),
               CAST({cap} AS BIGINT)) AS a_int,
         CAST((n + days * 24 - 1) // (days * 24) > {cap} AS INT)
           AS capped,
         CAST(least((n + days * 24 - 1) // (days * 24),
                    CAST({cap} AS BIGINT)) AS HUGEINT) AS a,
         CAST(1 AS HUGEINT) AS ap,
         CAST(1 AS HUGEINT) AS j
  FROM eb_tot
)""",
    ]
    for s in range(1, max_servers + 1):
        ctes.append(
            f"""
eb_{s} AS (
  SELECT a_int, capped, a, ap * a AS ap, ap * a + {s} * j AS j
  FROM eb_{s - 1}
)"""
        )
    arms = "\n  UNION ALL\n".join(
        f"  SELECT CAST({s} AS INT) AS servers,"
        f" a_int AS offered_load, capped,"
        f" CAST((ap * {scale}) // j AS BIGINT) AS blocking_ppm"
        f" FROM eb_{s}"
        for s in range(1, max_servers + 1)
    )
    ctes.append(f"""
erlang_blocking AS (
{arms}
)""")
    return ",".join(ctes)




# ---------------------------------------------------------------------------
# cohort LTV curves (cumulative revenue per signup cohort)
# ---------------------------------------------------------------------------


def cohort_ltv(events: DataFrame) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-seen WEEK,
    purchase revenue accumulated by week offset — the revenue sibling
    of `retention_cohorts` (how much each vintage has SPENT by week w,
    normalized per cohort member). The payback question ("when does a
    cohort's cumulative LTV cross acquisition cost") reads straight
    off cum_ltv_per_user.

    One user-grain first-seen agg, one (cohort, offset) cent agg, and
    a cumulative window PARTITIONED by cohort over the bounded
    week-offset grain. Revenue is exact BIGINT cents; the per-user
    normalization divides once per grid row.

    Output: cohort_week, offset_w, cohort_size, rev_cents,
    cum_rev_cents, cum_ltv_per_user.
    """
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cw")
    )
    sizes = firsts.groupBy("cw").agg(
        F.count("*").alias("cohort_size")
    )
    rev = (
        events.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "cw",
            F.floor(
                F.datediff(F.to_date("ts"), F.col("cw")) / 7
            ).cast("int").alias("offset_w"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("cw", "offset_w")
        .agg(F.sum("c").alias("rev_cents"))
    )
    wc = Window.partitionBy("cw").orderBy("offset_w").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        rev.withColumn("cum_rev_cents", F.sum("rev_cents").over(wc))
        .join(sizes, "cw")
        .select(
            F.col("cw").alias("cohort_week"),
            "offset_w",
            "cohort_size",
            "rev_cents",
            "cum_rev_cents",
            F.round(
                F.col("cum_rev_cents")
                / (F.lit(100.0) * F.col("cohort_size")),
                6,
            ).alias("cum_ltv_per_user"),
        )
    )




ORACLE_COHORT_LTV = """
cl_first AS (
  SELECT user_id,
         CAST(date_trunc('week', min(ts)) AS DATE) AS cw
  FROM events GROUP BY 1
),
cl_sizes AS (
  SELECT cw, CAST(count(*) AS BIGINT) AS cohort_size
  FROM cl_first GROUP BY 1
),
cl_rev AS (
  SELECT f.cw,
         CAST(date_diff('day', f.cw, CAST(e.ts AS DATE)) // 7 AS INT)
           AS offset_w,
         CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM events e JOIN cl_first f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
),
cohort_ltv AS (
  SELECT r.cw AS cohort_week, r.offset_w, s.cohort_size, r.rev_cents,
         CAST(sum(r.rev_cents) OVER (PARTITION BY r.cw
              ORDER BY r.offset_w
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_rev_cents,
         round(CAST(sum(r.rev_cents) OVER (PARTITION BY r.cw
                   ORDER BY r.offset_w
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT)
               / (CAST(100.0 AS DOUBLE) * s.cohort_size), 6)
           AS cum_ltv_per_user
  FROM cl_rev r JOIN cl_sizes s USING (cw)
)
"""




# ---------------------------------------------------------------------------
# economic order quantity (EOQ) per product
# ---------------------------------------------------------------------------

#: fixed ordering cost (cents) and holding cost (cents/unit/window).
EOQ_ORDER_COST = 5000


EOQ_HOLD_COST = 20




def eoq_report(lineitem: DataFrame) -> DataFrame:
    """Economic order quantity per product: EOQ = √(2·D·K/h) on the
    window's total demand D with literal ordering/holding costs — the
    continuous-review companion of the single-period newsvendor
    fractile. One hash-agg to product demand, then scalar algebra;
    order frequency D/EOQ rides along.

    Output per product: product, d_units, eoq_units, orders_per_window.
    """
    d = lineitem.groupBy(F.col("l_partkey").alias("product")).agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("d_units")
    )
    eoq = F.sqrt(
        2.0
        * F.col("d_units").cast("double")
        * EOQ_ORDER_COST
        / EOQ_HOLD_COST
    )
    return d.select(
        "product",
        "d_units",
        F.round(eoq, 4).alias("eoq_units"),
        F.round(F.col("d_units").cast("double") / eoq, 4).alias(
            "orders_per_window"
        ),
    )




ORACLE_EOQ = f"""
eoq_report AS (
  SELECT l_partkey AS product,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d_units,
         round(sqrt(2.0 * CAST(sum(CAST(l_quantity AS BIGINT))
                               AS DOUBLE)
                    * {EOQ_ORDER_COST} / {EOQ_HOLD_COST}), 4)
           AS eoq_units,
         round(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
               / sqrt(2.0 * CAST(sum(CAST(l_quantity AS BIGINT))
                                 AS DOUBLE)
                      * {EOQ_ORDER_COST} / {EOQ_HOLD_COST}), 4)
           AS orders_per_window
  FROM lineitem GROUP BY 1
)
"""




def atkinson_index(orders: DataFrame) -> DataFrame:
    """Atkinson inequality index (aversion eps = 1/2) of customer
    revenue — the welfare-grounded member of the inequality family
    beside Gini (ordinal) and Theil (entropy): A = 1 - EDE/mean with
    EDE = (sum sqrt(x)/n)^2, the equally-distributed-equivalent
    income — "society would accept A% less total revenue if it were
    spread evenly". eps=1/2 keeps the generalized mean inside IEEE-
    exact sqrt (no pow), the same exactness posture as the Theil
    x*ln x sums: one customer-grain BIGINT cent agg, one corpus agg
    of sqrt terms, ratios at the rounded edge.

    Output (1 row): n_cust, mean_cents, ede_cents, atkinson (round 6).
    """
    cust = orders.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
        ).alias("x")
    )
    agg = cust.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.sqrt(F.col("x").cast("double"))).alias("rs"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    ede = (F.col("rs") / F.col("n")) * (F.col("rs") / F.col("n"))
    return agg.select(
        F.col("n").alias("n_cust"),
        F.round(mean, 6).alias("mean_cents"),
        F.round(ede, 6).alias("ede_cents"),
        F.round(F.lit(1.0) - ede / mean, 6).alias("atkinson"),
    )




ORACLE_ATKINSON = """
atk_c AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS x
  FROM orders GROUP BY 1
),
atk_a AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
         sum(sqrt(CAST(x AS DOUBLE))) AS rs
  FROM atk_c
),
orders_atkinson AS (
  SELECT n AS n_cust,
         round(CAST(s AS DOUBLE) / n, 6) AS mean_cents,
         round((rs / n) * (rs / n), 6) AS ede_cents,
         round(CAST(1.0 AS DOUBLE)
               - ((rs / n) * (rs / n)) / (CAST(s AS DOUBLE) / n), 6)
           AS atkinson
  FROM atk_a
)
"""




# ---------------------------------------------------------------------------
# (s, S) reorder-policy simulation — integer day-grain fold
# ---------------------------------------------------------------------------

#: replenishment lead time in days (two fixed pipeline slots).
INV_LEAD_DAYS = 2




def reorder_policy_sim(events: DataFrame) -> DataFrame:
    """(s, S) periodic-review inventory simulation replayed over the
    daily purchase-demand series — the dynamic companion to the
    static EOQ / newsvendor / service-level rules: each day arrivals
    land (lead = 2 days), demand ships from stock (lost-sales model),
    and when the inventory POSITION (on hand + on order) falls to the
    reorder point s, an order tops it back up to S. s and S derive
    from the series itself (s = mean daily demand x (lead+1) + 1,
    S = 2s, integer DIV) so the operator is scale-free.

    Every quantity is an INTEGER (units), so the left fold (Spark
    ``aggregate`` over the day-sorted array; DuckDB row-per-step
    recursive CTE with the identical op order) is exact — no float
    enters at any step, the strongest form of the EWMA/Holt/CUSUM
    recursion pattern. The daily series is calendar-bounded; the
    only corpus-sized stage is the per-day demand count.

    Output per day: day, demand, arrived, shipped, short,
    on_hand_end, on_order, ordered_qty.
    """
    lead = INV_LEAD_DAYS
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("d"))
    )
    stats = daily.agg(
        F.sum("d").alias("tot"), F.count("*").alias("nd")
    )
    base = daily.crossJoin(F.broadcast(stats)).select(
        "day",
        "d",
        F.expr(f"(tot div nd) * {lead + 1} + 1").alias("spt"),
        (F.expr(f"(tot div nd) * {lead + 1} + 1") * 2).alias("sup"),
    )
    arr = base.groupBy("spt", "sup").agg(
        F.expr("array_sort(collect_list(struct(day, d)))").alias("xs")
    )
    oh1 = "(acc.oh + acc.p1)"
    ship = f"least({oh1}, x.d)"
    oh2 = f"({oh1} - {ship})"
    pos = f"({oh2} + acc.p2)"
    q = f"IF({pos} <= spt, sup - {pos}, CAST(0 AS BIGINT))"
    row = (
        f"struct(x.day AS day, x.d AS demand,"
        f" acc.p1 AS arrived, {ship} AS shipped,"
        f" (x.d - {ship}) AS short, {oh2} AS on_hand_end,"
        f" (acc.p2 + {q}) AS on_order, {q} AS ordered_qty)"
    )
    fold = (
        "aggregate(xs,"
        " struct(CAST(sup AS BIGINT) AS oh, CAST(0 AS BIGINT) AS p1,"
        "        CAST(0 AS BIGINT) AS p2,"
        "        CAST(array() AS"
        "          ARRAY<STRUCT<day: DATE, demand: BIGINT,"
        "            arrived: BIGINT, shipped: BIGINT, short: BIGINT,"
        "            on_hand_end: BIGINT, on_order: BIGINT,"
        "            ordered_qty: BIGINT>>) AS rows),"
        f" (acc, x) -> struct({oh2} AS oh, acc.p2 AS p1, {q} AS p2,"
        f"   concat(acc.rows, array({row})) AS rows))"
    )
    return (
        arr.select(F.explode(F.expr(f"{fold}.rows")).alias("r"))
        .select("r.*")
    )




def oracle_reorder_policy(lead: int = INV_LEAD_DAYS) -> str:
    return f"""
iv_daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS d
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
iv_pol AS (
  SELECT CAST((sum(d) // count(*)) * {lead + 1} + 1 AS BIGINT) AS spt,
         CAST(((sum(d) // count(*)) * {lead + 1} + 1) * 2 AS BIGINT)
           AS sup
  FROM iv_daily
),
iv_seq AS (
  SELECT day, d, row_number() OVER (ORDER BY day) AS pos, spt, sup
  FROM iv_daily, iv_pol
),
iv_rec AS (
  SELECT day, d, pos, spt, sup,
         CAST(0 AS BIGINT) AS arrived,
         least(sup, d) AS shipped,
         d - least(sup, d) AS short,
         sup - least(sup, d) AS oh,
         CAST(0 AS BIGINT) AS p1,
         CASE WHEN sup - least(sup, d) <= spt
              THEN sup - (sup - least(sup, d))
              ELSE CAST(0 AS BIGINT) END AS p2
  FROM iv_seq WHERE pos = 1
  UNION ALL
  SELECT s.day, s.d, s.pos, s.spt, s.sup,
         r.p1 AS arrived,
         least(r.oh + r.p1, s.d) AS shipped,
         s.d - least(r.oh + r.p1, s.d) AS short,
         (r.oh + r.p1) - least(r.oh + r.p1, s.d) AS oh,
         r.p2 AS p1,
         CASE WHEN ((r.oh + r.p1) - least(r.oh + r.p1, s.d)) + r.p2
                   <= s.spt
              THEN s.sup
                   - (((r.oh + r.p1) - least(r.oh + r.p1, s.d))
                      + r.p2)
              ELSE CAST(0 AS BIGINT) END AS p2
  FROM iv_rec r JOIN iv_seq s ON s.pos = r.pos + 1
),
orders_reorder_policy AS (
  SELECT day, d AS demand, arrived, shipped, short,
         oh AS on_hand_end, p1 + p2 AS on_order, p2 AS ordered_qty
  FROM iv_rec
)
"""




# ---------------------------------------------------------------------------
# Erlang-C wait-probability curve (M/M/s queue with waiting room)
# ---------------------------------------------------------------------------

#: offered-load cap for the WAIT curve. Unlike Erlang-B (loss model,
#: meaningful at any a), Erlang-C is only finite for s > a, and the
#: curve tops out at ERLANG_MAX_SERVERS servers — so the staffable
#: load is capped lower and flagged. Bonus: in the stable branch
#: a <= s-1 <= 11, so every integer term stays ~1e13 and the 1e6
#: ppm scaling can never approach the DECIMAL(38,0)/HUGEINT ceiling.
ERLANG_C_A_CAP = 8




def erlang_wait_curve(orders: DataFrame) -> DataFrame:
    """Erlang-C staffing curve: probability an arriving order WAITS
    (all s agents busy, M/M/s with infinite queue) plus the mean
    queue wait, for s = 1..{S} at the data-derived offered load —
    the companion of ``orders_erlang_blocking`` for systems that
    queue instead of turning work away.

    Same EXACT INTEGER recursion J(s) = a^s + s*J(s-1) as Erlang-B
    (J(s) = sum_k a^k * s!/k!), then the waiting probability in pure
    integers: with q = a^s * s and D = (s-a)*(J(s) - a^s) + a^s * s,
        P_wait = q / D            (s > a; else 1 — unstable queue)
        W_q    = P_wait / (s - a) (mean wait, 1-hour handle time)
    both emitted as exact integer divisions (ppm / micro-hours) via
    the divmod split, so the whole curve hash-matches by
    construction. Load is capped at {CAP} erlangs (flagged): the
    stable branch needs a < s <= {S} anyway, and the cap keeps every
    term within ~1e13 * 1e6 — five orders below the DECIMAL(38,0)
    ceiling at ANY data scale.

    Scale: ONE global count-agg over orders; the recursion is
    driver-free column algebra on a broadcast 1-row frame. Output
    per s: servers, offered_load, capped, wait_ppm, wq_micro_hours
    (NULL when the queue is unstable).
    """
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tot = orders.agg(
        F.count("*").alias("n"),
        F.countDistinct(F.to_date("o_orderdate")).alias("days"),
    )
    base = tot.select(
        F.expr(
            f"least((n + days * 24 - 1) div (days * 24),"
            f" cast({ERLANG_C_A_CAP} as bigint))"
        ).alias("a_int"),
        F.expr(
            f"cast((n + days * 24 - 1) div (days * 24)"
            f" > {ERLANG_C_A_CAP} as int)"
        ).alias("capped"),
    ).select(
        "a_int",
        "capped",
        dec(F.col("a_int")).alias("a"),
        dec(F.lit(1)).alias("ap"),
        dec(F.lit(1)).alias("j"),
    )
    levels = []
    cur = base
    for s in range(1, ERLANG_MAX_SERVERS + 1):
        cur = cur.select(
            "a_int",
            "capped",
            "a",
            (F.col("ap") * F.col("a")).alias("ap"),
            (
                F.col("ap") * F.col("a") + F.lit(s) * F.col("j")
            ).alias("j"),
        )
        levels.append(
            cur.select(
                F.lit(s).alias("servers"),
                F.col("a_int").alias("offered_load"),
                "capped",
                "a",
                "ap",
                "j",
            )
        )
    allv = levels[0]
    for fr in levels[1:]:
        allv = allv.unionByName(fr)
    sd = F.col("servers").cast("decimal(38,0)")
    q = F.col("ap") * sd
    den = (sd - F.col("a")) * (F.col("j") - F.col("ap")) + q
    scale = F.lit(ERLANG_SCALE).cast("decimal(38,0)")
    num_p = q * scale
    den_w = den * (sd - F.col("a"))
    stable = F.col("servers") > F.col("offered_load")
    return allv.select(
        "servers",
        "offered_load",
        "capped",
        F.when(
            stable,
            ((num_p - num_p % den) / den).cast("bigint"),
        )
        .otherwise(F.lit(ERLANG_SCALE).cast("bigint"))
        .alias("wait_ppm"),
        F.when(
            stable,
            ((num_p - num_p % den_w) / den_w).cast("bigint"),
        ).alias("wq_micro_hours"),
    )




erlang_wait_curve.__doc__ = erlang_wait_curve.__doc__.format(
    S=ERLANG_MAX_SERVERS, CAP=ERLANG_C_A_CAP
)




def oracle_erlang_wait(
    max_servers: int = ERLANG_MAX_SERVERS,
    cap: int = ERLANG_C_A_CAP,
    scale: int = ERLANG_SCALE,
) -> str:
    ctes = [
        """
ec_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT)
           AS days
  FROM orders
)""",
        f"""
ec_0 AS (
  SELECT least((n + days * 24 - 1) // (days * 24),
               CAST({cap} AS BIGINT)) AS a_int,
         CAST((n + days * 24 - 1) // (days * 24) > {cap} AS INT)
           AS capped,
         CAST(least((n + days * 24 - 1) // (days * 24),
                    CAST({cap} AS BIGINT)) AS HUGEINT) AS a,
         CAST(1 AS HUGEINT) AS ap,
         CAST(1 AS HUGEINT) AS j
  FROM ec_tot
)""",
    ]
    for s in range(1, max_servers + 1):
        ctes.append(
            f"""
ec_{s} AS (
  SELECT a_int, capped, a, ap * a AS ap, ap * a + {s} * j AS j
  FROM ec_{s - 1}
)"""
        )
    arms = "\n  UNION ALL\n".join(
        f"  SELECT CAST({s} AS INT) AS servers,"
        f" a_int AS offered_load, capped,"
        f" CASE WHEN {s} > a_int THEN CAST((ap * {s} * {scale})"
        f" // (({s} - a) * (j - ap) + ap * {s}) AS BIGINT)"
        f" ELSE CAST({scale} AS BIGINT) END AS wait_ppm,"
        f" CASE WHEN {s} > a_int THEN CAST((ap * {s} * {scale})"
        f" // ((({s} - a) * (j - ap) + ap * {s}) * ({s} - a))"
        f" AS BIGINT) ELSE CAST(NULL AS BIGINT) END"
        f" AS wq_micro_hours"
        f" FROM ec_{s}"
        for s in range(1, max_servers + 1)
    )
    ctes.append(f"""
erlang_wait AS (
{arms}
)""")
    return ",".join(ctes)




# ---------------------------------------------------------------------------
# Wagner-Whitin optimal lot sizing (min-plus shortest path, doubled)
# ---------------------------------------------------------------------------

#: ordering (setup) cost per replenishment, cents.
LOT_SETUP_CENTS = 5000


#: holding cost per unit per month, cents.
LOT_HOLD_CENTS = 1


#: min-plus squaring rounds: paths of up to 2^8 = 256 edges, i.e. a
#: 256-month (21-year) planning calendar — raise by one round per
#: further doubling of the calendar; each round is one bounded join.
LOT_DOUBLING_ROUNDS = 8




def lot_sizing_frontier(orders: DataFrame) -> DataFrame:
    """Wagner-Whitin optimal lot sizing over the monthly demand
    series: the minimum total (setup + holding) cost plan that
    satisfies every month's demand by batching future months into
    earlier orders — the DYNAMIC counterpart of the static EOQ
    (``parts_eoq``) and newsvendor fractile.

    Classic WW is a sequential driver-side DP; here the DP runs as a
    PACKED-ARRAY KERNEL on the calendar-bounded demand series — the
    same machinery as ``ranking.bucket_prefix_offsets``: one
    corpus-sized month hash-agg, then the months pack into a single
    sorted array and f(j) = min_{{i<=j}} f(i-1) + K + h*H(i,j) runs
    as nested higher-order functions entirely executor-side (H(i,j)
    = sum_{{t=i..j}} (t-i)*d_t assembles O(1) per candidate from
    prefix arrays P0/P1, so the kernel is O(months^2) integer ops on
    ~e2 elements — microseconds, where a join-based min-plus
    squaring loop pays 8 rounds of job scheduling for the same
    bounded state). Every cost is an exact BIGINT cent, so min()
    agrees across engines by construction; the oracle replays the
    equivalent min-plus shortest path ({R} unrolled squaring rounds
    over the order-coverage edge graph) and the hash gate proves the
    two formulations identical. Month index = count of distinct
    months <= m (a months^2 self-join — contiguous ids even when a
    calendar month has no orders, no global window).

    Output per month: through_month, month_idx, demand,
    opt_cost_cents = cheapest plan covering months 1..t (the full
    DP frontier, of which the last row is THE Wagner-Whitin
    optimum).
    """
    m = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("mon")
    ).agg(F.count("*").alias("d"))
    idx = (
        m.join(
            m.select(F.col("mon").alias("mon2")),
            F.col("mon2") <= F.col("mon"),
        )
        .groupBy("mon", "d")
        .agg(F.count("*").alias("t"))
    )
    packed = idx.agg(
        F.sort_array(
            F.collect_list(F.struct("t", "d", "mon"))
        ).alias("ms")
    )
    pfx = packed.select(
        "ms",
        F.expr(
            "aggregate(ms, array(cast(0 as bigint)),"
            " (a, x) -> array_append(a,"
            " element_at(a, -1) + x.d))"
        ).alias("p0"),
        F.expr(
            "aggregate(ms, array(cast(0 as bigint)),"
            " (a, x) -> array_append(a,"
            " element_at(a, -1) + x.t * x.d))"
        ).alias("p1"),
    )
    k, h = LOT_SETUP_CENTS, LOT_HOLD_CENTS
    dp = pfx.select(
        "ms",
        F.expr(
            # the j = 1 guard keeps the fold off sequence(2, 1)
            # (Spark descends to [2, 1], and element_at(acc, 2) on
            # the 1-element seed only "works" via non-ANSI
            # out-of-bounds NULL + least() null-skipping — review
            # finding; the guard makes the kernel ANSI-safe).
            "aggregate(sequence(1, size(ms)),"
            " array(cast(0 as bigint)),"
            " (acc, j) -> array_append(acc,"
            "  if(j < 2,"
            f"   element_at(acc, 1) + {k} + {h} *"
            "    ((element_at(p1, j + 1) - element_at(p1, 1))"
            "     - 1 * (element_at(p0, j + 1) - element_at(p0, 1))),"
            "  aggregate(sequence(2, j),"
            f"   element_at(acc, 1) + {k} + {h} *"
            "    ((element_at(p1, j + 1) - element_at(p1, 1))"
            "     - 1 * (element_at(p0, j + 1) - element_at(p0, 1))),"
            "   (best, i) -> least(best,"
            f"    element_at(acc, i) + {k} + {h} *"
            "     ((element_at(p1, j + 1) - element_at(p1, i))"
            "      - i * (element_at(p0, j + 1)"
            "             - element_at(p0, i))))))))"
        ).alias("f"),
    )
    return dp.select(
        F.explode(
            F.expr(
                "transform(ms, (x, ix) -> struct("
                " x.mon as through_month, x.t as month_idx,"
                " x.d as demand,"
                " element_at(f, ix + 2) as opt_cost_cents))"
            )
        ).alias("r")
    ).select("r.*")




lot_sizing_frontier.__doc__ = lot_sizing_frontier.__doc__.format(
    R=LOT_DOUBLING_ROUNDS
)




def oracle_lot_sizing(
    setup: int = LOT_SETUP_CENTS,
    hold: int = LOT_HOLD_CENTS,
    rounds: int = LOT_DOUBLING_ROUNDS,
) -> str:
    ctes = [
        """
ww_m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
         CAST(count(*) AS BIGINT) AS d
  FROM orders GROUP BY 1
)""",
        """
ww_i AS (
  SELECT a.mon, a.d, CAST(count(*) AS BIGINT) AS t
  FROM ww_m a JOIN ww_m b ON b.mon <= a.mon GROUP BY 1, 2
)""",
        f"""
ww_e AS (
  SELECT i.t AS src, j.t + 1 AS dst,
         {setup} + {hold} * CAST(sum((u.t - i.t) * u.d) AS BIGINT)
           AS w
  FROM ww_i i JOIN ww_i j ON j.t >= i.t
  JOIN ww_i u ON u.t BETWEEN i.t AND j.t
  GROUP BY 1, 2
)""",
        """
ww_d0 AS (
  SELECT src, dst, w FROM ww_e
  UNION ALL
  SELECT t, t, CAST(0 AS BIGINT) FROM ww_i
  UNION ALL
  SELECT max(t) + 1, max(t) + 1, CAST(0 AS BIGINT) FROM ww_i
)""",
    ]
    for r in range(1, rounds + 1):
        # MATERIALIZED: each round references its predecessor twice;
        # an inlined CTE chain re-evaluates 2^rounds times.
        ctes.append(
            f"""
ww_d{r} AS MATERIALIZED (
  SELECT a.src, b.dst, CAST(min(a.w + b.w) AS BIGINT) AS w
  FROM ww_d{r - 1} a JOIN ww_d{r - 1} b ON a.dst = b.src
  GROUP BY 1, 2
)"""
        )
    ctes.append(
        f"""
lot_sizing AS (
  SELECT m.mon AS through_month, m.t AS month_idx, m.d AS demand,
         d.w AS opt_cost_cents
  FROM ww_d{rounds} d JOIN ww_i m ON d.dst = m.t + 1
  WHERE d.src = 1
)"""
    )
    return ",".join(ctes)




# ---------------------------------------------------------------------------
# power-of-two ordering policies vs the Wagner-Whitin optimum
# ---------------------------------------------------------------------------

#: power-of-two ordering intervals evaluated: 2^0 .. 2^POTWO_MAX_EXP
#: months (128 covers any calendar the lot-sizing envelope covers).
POTWO_MAX_EXP = 7




def potwo_policy_eval(orders: DataFrame) -> DataFrame:
    """Power-of-two ordering policies against the exact Wagner-Whitin
    optimum (``orders_lot_sizing``): order every 2^j months
    (skipping empty cycles), j = 0..{J} — the restricted policy
    class operations actually run because it synchronizes across
    SKUs, with the classic result that the best power-of-two is
    within ~6% of optimal under stationary demand. This query prices
    that gap EXACTLY on the real demand series.

    All integers: each cycle's holding cost folds from the same
    (t - cycle_start) * d_t terms as the WW edge costs via one
    (interval, cycle) hash-agg over the months x {NJ} policy grid
    (calendar-bounded), and the optimum joins in from the verified
    DP frontier's last row. vs_optimal_pct is the single rounded
    division; ties on the best policy break toward the shorter
    interval via the exact integer comparison.

    Output ({NJ} rows): interval_months, n_orders_placed,
    total_cost_cents, optimal_cost_cents, vs_optimal_pct, is_best.
    """
    m = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("mon")
    ).agg(F.count("*").alias("d"))
    idx = (
        m.join(
            m.select(F.col("mon").alias("mon2")),
            F.col("mon2") <= F.col("mon"),
        )
        .groupBy("mon", "d")
        .agg(F.count("*").alias("t"))
    )
    exps = idx.sparkSession.range(POTWO_MAX_EXP + 1).select(
        F.expr("shiftleft(cast(1 as bigint), cast(id as int))").alias(
            "l"
        )
    )
    cyc = (
        idx.crossJoin(F.broadcast(exps))
        .withColumn(
            "c0",
            (F.col("t") - 1) - (F.col("t") - 1) % F.col("l"),
        )
        .groupBy("l", "c0")
        .agg(
            F.sum(
                (F.col("t") - 1 - F.col("c0")) * F.col("d")
            ).alias("hold"),
            F.sum("d").alias("dem"),
        )
    )
    per_l = cyc.groupBy("l").agg(
        F.sum((F.col("dem") > 0).cast("bigint")).alias(
            "n_orders_placed"
        ),
        F.sum(
            F.when(
                F.col("dem") > 0,
                F.lit(LOT_SETUP_CENTS)
                + F.lit(LOT_HOLD_CENTS) * F.col("hold"),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("total_cost_cents"),
    )
    opt = lot_sizing_frontier(orders).agg(
        F.max_by("opt_cost_cents", "month_idx").alias("opt")
    )
    best = per_l.agg(F.min("total_cost_cents").alias("bc"))
    return (
        per_l.crossJoin(F.broadcast(opt))
        .crossJoin(F.broadcast(best))
        .select(
            F.col("l").alias("interval_months"),
            "n_orders_placed",
            "total_cost_cents",
            F.col("opt").alias("optimal_cost_cents"),
            F.round(
                100
                * F.col("total_cost_cents").cast("double")
                / F.col("opt").cast("double"),
                6,
            ).alias("vs_optimal_pct"),
            (F.col("total_cost_cents") == F.col("bc")).alias(
                "is_best"
            ),
        )
    )




potwo_policy_eval.__doc__ = potwo_policy_eval.__doc__.format(
    J=POTWO_MAX_EXP, NJ=POTWO_MAX_EXP + 1
)




def oracle_potwo(
    setup: int = LOT_SETUP_CENTS,
    hold: int = LOT_HOLD_CENTS,
    max_exp: int = POTWO_MAX_EXP,
) -> str:
    exps = " UNION ALL ".join(
        f"SELECT CAST({1 << j} AS BIGINT) AS l"
        for j in range(max_exp + 1)
    )
    return f"""
pt_e AS ({exps}),
pt_c AS (
  SELECT e.l, (i.t - 1) - (i.t - 1) % e.l AS c0,
         CAST(sum((i.t - 1 - ((i.t - 1) - (i.t - 1) % e.l)) * i.d)
              AS BIGINT) AS hold,
         CAST(sum(i.d) AS BIGINT) AS dem
  FROM ww_i i, pt_e e GROUP BY 1, 2
),
pt_l AS (
  SELECT l,
         CAST(sum(CASE WHEN dem > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_orders_placed,
         CAST(sum(CASE WHEN dem > 0 THEN {setup} + {hold} * hold
                  ELSE 0 END) AS BIGINT) AS total_cost_cents
  FROM pt_c GROUP BY 1
),
pt_o AS (
  SELECT arg_max(opt_cost_cents, month_idx) AS opt FROM lot_sizing
),
pt_b AS (SELECT min(total_cost_cents) AS bc FROM pt_l),
potwo_policy AS (
  SELECT l AS interval_months, n_orders_placed, total_cost_cents,
         opt AS optimal_cost_cents,
         round(100 * CAST(total_cost_cents AS DOUBLE)
               / CAST(opt AS DOUBLE), 6) AS vs_optimal_pct,
         total_cost_cents = bc AS is_best
  FROM pt_l, pt_o, pt_b
)"""

