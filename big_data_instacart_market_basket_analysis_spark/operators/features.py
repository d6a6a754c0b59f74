"""Feature-family operators (SURVEY.md §2c-§2d: A1-A11, J2-J5).

Each builder takes the Instacart-shaped views and returns a DataFrame;
the matching DuckDB oracle CTE lives next to it. All aggregations are
single-pass hash aggs (partial+final, map-side combine); joins on
dimension-sized inputs are broadcast, fact-fact joins shuffle on their
keys under AQE.

Reference lineage is cited per function (F.py = the reference notebook).

The reference computes its per-product, per-user and per-(user,
product) feature frames once (F.py:69-118) and every later step reads
them. Likewise ``product_features``, ``users_final`` and
``user_product_features`` are staged once per ``InstacartTables``
(``_staging.stage``, persisted MEMORY_AND_DISK): the feature queries,
``candidates``, the submissions and the SQL views all read one build
per input, as ``InMemoryRelation`` scans. Their sizes are product-,
user- and user×product-grain (SCALE.md). ``prior_enriched`` and the
fact table (``order_products``) stay uncached: they are fact-grain and
each feature table reads them once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.columns import safe_div
from ..plans.instacart import InstacartTables
from ._staging import stage as _stage


def product_features(t: InstacartTables) -> DataFrame:
    """A1-A3 + J2 (F.py:69-74), staged and persisted once per ``t``."""
    return _stage(
        "product_features", t, lambda: _product_features(t), persist=True
    )


def _product_features(t: InstacartTables) -> DataFrame:
    """A1-A3 + J2 (F.py:69-74): per-product order/reorder stats ⋈ dim.

    One hash-agg pass over prior order_products, then a broadcast join to
    the products dimension (dims stay broadcastable at any fact scale).
    ``numreorders`` is double to mirror the reference's float32 cast
    (F.py:71).
    """
    stats = t.prior_products.groupBy("productID").agg(
        F.count("*").alias("numorders"),
        F.sum("reordered").cast("double").alias("numreorders"),
    )
    stats = stats.withColumn(
        "reorder_ratio", safe_div(F.col("numreorders"), F.col("numorders"))
    )
    return F.broadcast(t.products).join(stats, "productID", "inner").select(
        "productID",
        "aisle_id",
        "dep_id",
        "numorders",
        "numreorders",
        "reorder_ratio",
    )


ORACLE_PRODUCT_FEATURES = """
product_features AS (
  SELECT p.productID, p.aisle_id, p.dep_id,
         s.numorders, s.numreorders, s.reorder_ratio
  FROM iproducts p
  JOIN (
    SELECT productID,
           count(*) AS numorders,
           CAST(CAST(sum(reordered) AS BIGINT) AS DOUBLE) AS numreorders,
           CAST(sum(reordered) AS DOUBLE) / NULLIF(count(*), 0) AS reorder_ratio
    FROM iprior_products
    GROUP BY productID
  ) s USING (productID)
)
"""


def prior_enriched(t: InstacartTables) -> DataFrame:
    """J3 (F.py:82-84): prior order_products ⋈ orders on orderID.

    Fact-fact equi-join; at scale this shuffles both sides on orderID
    (AQE handles skew). Using the ``on=str`` form keeps a single orderID
    column (P8: the reference drops the duplicate manually, F.py:84).
    """
    return t.prior_products.join(t.orders, "orderID", "inner")


ORACLE_PRIOR_ENRICHED = """
prior_enriched AS (
  SELECT op.orderID, op.productID, op.cart_order, op.reordered,
         o.userID, o.eval_set, o.order_number, o.order_dow, o.order_hod,
         o.days_since
  FROM iprior_products op
  JOIN iorders o USING (orderID)
)
"""


def user_order_features(t: InstacartTables) -> DataFrame:
    """A4-A5 (F.py:89-91): per-user ordering-gap mean + order count.

    Over *all* sampled orders (the reference groups the full ordersDF,
    not just priors).
    """
    return t.orders.groupBy("userID").agg(
        F.avg("days_since").alias("avg_orderingGap"),
        F.count("*").alias("total_orders"),
    )


ORACLE_USER_ORDER_FEATURES = """
user_order_features AS (
  SELECT userID,
         avg(days_since) AS avg_orderingGap,
         count(*)        AS total_orders
  FROM iorders
  GROUP BY userID
)
"""


def user_prior_features(t: InstacartTables) -> DataFrame:
    """A6-A8 (F.py:97-100): per-user basket totals + item set.

    ``all_items`` is the reference's set-valued column (F.py:99) as a
    sorted array (determinism rule, SURVEY.md §5); ``all_items_str`` is
    its hash-stable string rendering used in declared query output.
    ``distinct_items`` = set size (F.py:100).
    """
    return prior_enriched(t).groupBy("userID").agg(
        F.count("*").alias("items_purchased_total"),
        F.array_sort(F.collect_set("productID")).alias("all_items"),
        F.size(F.array_sort(F.collect_set("productID"))).alias(
            "distinct_items"
        ),
    )


ORACLE_USER_PRIOR_FEATURES = """
user_prior_features AS (
  SELECT userID,
         count(*) AS items_purchased_total,
         list_sort(list(DISTINCT productID)) AS all_items,
         CAST(len(list(DISTINCT productID)) AS INT) AS distinct_items
  FROM prior_enriched
  GROUP BY userID
)
"""


def users_final(t: InstacartTables) -> DataFrame:
    """J4 + A9 (F.py:105-106), staged and persisted once per ``t``."""
    return _stage("users_final", t, lambda: _users_final(t), persist=True)


def _users_final(t: InstacartTables) -> DataFrame:
    """J4 + A9 (F.py:105-106): user features assembled.

    Left join from the prior-derived side (pandas ``.join`` default) +
    ``average_items`` ratio. Both sides are per-user aggregates sharing
    the userID hash partitioning — one shuffle each, co-located join.
    """
    joined = user_prior_features(t).join(
        user_order_features(t), "userID", "left"
    )
    return joined.withColumn(
        "average_items",
        safe_div(F.col("items_purchased_total"), F.col("total_orders")),
    )


ORACLE_USERS_FINAL = """
users_final AS (
  SELECT up.userID, up.items_purchased_total, up.all_items,
         up.distinct_items, uo.avg_orderingGap, uo.total_orders,
         CAST(up.items_purchased_total AS DOUBLE) / NULLIF(uo.total_orders, 0)
           AS average_items
  FROM user_prior_features up
  LEFT JOIN user_order_features uo USING (userID)
)
"""


def user_product_features(t: InstacartTables) -> DataFrame:
    """A10-A11 + J10 (F.py:111-118), staged and persisted once per
    ``t``."""
    return _stage(
        "user_product_features", t, lambda: _user_product_features(t),
        persist=True,
    )


def _user_product_features(t: InstacartTables) -> DataFrame:
    """A10-A11 + J10 (F.py:111-118): per-(user,product) aggregates.

    The reference fakes the composite key as ``userID*100000+productID``
    (collision-prone, F.py:112) and uses order-sensitive pandas ``last``
    after a sort (F.py:113-114). Here: a true composite grouping key and
    ``max_by(orderID, order_number)`` — the deterministic "orderID of the
    user's latest order containing this product" (SURVEY.md A11; ties in
    order_number can only be the same order, so the result is unique).
    """
    return prior_enriched(t).groupBy("userID", "productID").agg(
        F.count("*").alias("numorders"),
        F.expr("max_by(orderID, order_number)").alias("final_orderId"),
        F.sum("cart_order").alias("sum_cartOrder"),
    )


ORACLE_USER_PRODUCT_FEATURES = """
user_product_features AS (
  SELECT userID, productID,
         count(*) AS numorders,
         max_by(orderID, order_number) AS final_orderId,
         CAST(sum(cart_order) AS BIGINT) AS sum_cartOrder
  FROM prior_enriched
  GROUP BY userID, productID
)
"""


# ---------------------------------------------------------------------------
# leave-one-out target encoding (ML feature engineering, leakage-safe)
# ---------------------------------------------------------------------------


def loo_target_encoding(t) -> DataFrame:
    """Leave-one-out target encoding of productID against the
    ``reordered`` target over the prior split: each row's encoding is
    the mean target of all OTHER rows of the same product —
    ``(sum(product) - own) / (n(product) - 1)`` — null for singleton
    products. The standard leakage-safe categorical encoder for
    gradient-boosted models.

    Plan: one hash-agg to the product grain (dim-sized), broadcast
    back onto the fact rows, then row-local arithmetic — no per-row
    window, no second fact shuffle. At 100 TB the sums table stays
    |products|-sized regardless of fact growth.
    """
    sums = t.prior_products.groupBy("productID").agg(
        F.sum("reordered").alias("t_sum"),
        F.count("*").alias("t_cnt"),
    )
    return (
        t.prior_products.select("orderID", "productID", "reordered")
        .join(F.broadcast(sums), "productID")
        .select(
            "orderID",
            "productID",
            "reordered",
            F.round(
                F.when(
                    F.col("t_cnt") > 1,
                    (F.col("t_sum") - F.col("reordered"))
                    / (F.col("t_cnt") - F.lit(1)).cast("double"),
                ),
                6,
            ).alias("loo_enc"),
        )
    )


ORACLE_LOO_TARGET_ENCODING = """
loo_sums AS (
  SELECT productID,
         CAST(sum(reordered) AS BIGINT) AS t_sum,
         CAST(count(*) AS BIGINT) AS t_cnt
  FROM iprior_products GROUP BY productID
),
loo_target_encoding AS (
  SELECT op.orderID, op.productID, op.reordered,
         round(CASE WHEN s.t_cnt > 1
               THEN (s.t_sum - op.reordered)
                    / CAST(s.t_cnt - 1 AS DOUBLE) END, 6) AS loo_enc
  FROM iprior_products op JOIN loo_sums s ON op.productID = s.productID
)
"""


# ---------------------------------------------------------------------------
# weight-of-evidence encoding + information value
# ---------------------------------------------------------------------------

def woe_iv_encoding(t) -> DataFrame:
    """Weight-of-evidence encoding of the product aisle against the
    ``reordered`` target over the prior split (the credit-scoring /
    feature-screening encoder that complements ``loo_target_encoding``):
    per category c,
    ``woe = ln(((n_event_c + .5)/tot_event) / ((n_nonevent_c + .5)/tot_nonevent))``
    (half-unit smoothing so empty cells stay finite) and the
    information-value contribution ``iv = (se - sne) * woe`` on the
    same smoothed shares; the category table also carries the total IV
    (sum of rounded contributions — the screening statistic that ranks
    features).

    Plan: one fact-side hash-agg to the (productID) grain? No — aisle
    is a product attribute, so the fact rows broadcast-join the
    products dim first, then ONE hash-agg to the aisle grain
    (dim-bounded), a 1-row total agg, and row-local log arithmetic.
    At 100 TB the shuffle payload is |aisles| rows of two BIGINTs.
    """
    labeled = t.prior_products.join(
        F.broadcast(t.products.select("productID", "aisle_id")),
        "productID",
    )
    cat = labeled.groupBy("aisle_id").agg(
        F.sum("reordered").alias("n_event"),
        F.sum(F.lit(1) - F.col("reordered")).alias("n_nonevent"),
    )
    tot = cat.agg(
        F.sum("n_event").alias("tot_event"),
        F.sum("n_nonevent").alias("tot_nonevent"),
    )
    scored = cat.crossJoin(F.broadcast(tot)).select(
        "aisle_id",
        "n_event",
        "n_nonevent",
        F.round(
            F.log(
                ((F.col("n_event") + 0.5) / F.col("tot_event"))
                / ((F.col("n_nonevent") + 0.5) / F.col("tot_nonevent"))
            ),
            6,
        ).alias("woe"),
        F.round(
            (
                (F.col("n_event") + 0.5) / F.col("tot_event")
                - (F.col("n_nonevent") + 0.5) / F.col("tot_nonevent")
            )
            * F.log(
                ((F.col("n_event") + 0.5) / F.col("tot_event"))
                / ((F.col("n_nonevent") + 0.5) / F.col("tot_nonevent"))
            ),
            6,
        ).alias("iv_contrib"),
    )
    iv_tot = scored.agg(
        F.round(F.sum("iv_contrib"), 6).alias("iv_total")
    )
    return scored.crossJoin(F.broadcast(iv_tot))


ORACLE_WOE_IV = """
woe_cat AS (
  SELECT p.aisle_id,
         CAST(sum(op.reordered) AS BIGINT) AS n_event,
         CAST(sum(1 - op.reordered) AS BIGINT) AS n_nonevent
  FROM iprior_products op JOIN iproducts p ON op.productID = p.productID
  GROUP BY 1
),
woe_tot AS (
  SELECT CAST(sum(n_event) AS BIGINT) AS tot_event,
         CAST(sum(n_nonevent) AS BIGINT) AS tot_nonevent
  FROM woe_cat
),
woe_scored AS (
  SELECT c.aisle_id, c.n_event, c.n_nonevent,
         round(ln(((c.n_event + CAST(0.5 AS DOUBLE)) / t.tot_event)
                  / ((c.n_nonevent + CAST(0.5 AS DOUBLE)) / t.tot_nonevent)), 6) AS woe,
         round(((c.n_event + CAST(0.5 AS DOUBLE)) / t.tot_event
                - (c.n_nonevent + CAST(0.5 AS DOUBLE)) / t.tot_nonevent)
               * ln(((c.n_event + CAST(0.5 AS DOUBLE)) / t.tot_event)
                    / ((c.n_nonevent + CAST(0.5 AS DOUBLE)) / t.tot_nonevent)), 6)
           AS iv_contrib
  FROM woe_cat c CROSS JOIN woe_tot t
),
woe_iv_encoding AS (
  SELECT s.*, (SELECT round(sum(iv_contrib), 6) FROM woe_scored)
           AS iv_total
  FROM woe_scored s
)
"""


# ---------------------------------------------------------------------------
# information-gain feature ranking
# ---------------------------------------------------------------------------

def info_gain_ranking(t) -> DataFrame:
    """Entropy-based feature screening against ``reordered`` over the
    prior split: for each candidate categorical feature (aisle,
    department, order dow/hod, days-since week bucket), report
    ``info_gain = H(y) - H(y|f)`` and the gain ratio
    ``info_gain / H(f)`` (Quinlan's split criterion pair — what a
    tree trainer would rank before its first split; the engine's CART
    uses the Gini twin of this).

    Plan: the enriched fact unpivots to (feature, value) rows via
    ``stack`` (map-side, x5 rows), then ONE hash-agg to the
    (feature, value) grain with event/total counts; every entropy is
    assembled from exact BIGINT counts with per-term ``n*ln(n)``
    algebra so the only floats are final rounded divisions. Output is
    5 rows regardless of fact size.
    """
    labeled = (
        t.prior_products.join(
            t.prior_orders.select(
                "orderID", "order_dow", "order_hod", "days_since"
            ),
            "orderID",
        )
        .join(
            F.broadcast(t.products.select("productID", "aisle_id", "dep_id")),
            "productID",
        )
        .select(
            "reordered",
            F.expr(
                "stack(5,"
                " 'aisle', cast(aisle_id as string),"
                " 'dep', cast(dep_id as string),"
                " 'dow', cast(order_dow as string),"
                " 'hod', cast(order_hod as string),"
                " 'ds_week', cast(days_since div 7 as string)"
                ") as (feature, value)"
            ),
        )
        .select("feature", "value", "reordered")
    )
    cell = labeled.groupBy("feature", "value").agg(
        F.sum("reordered").alias("n_e"),
        F.count("*").alias("n_v"),
    )
    # H(y|f) = (1/N) * sum_v [ n_v*ln(n_v) - n_e*ln(n_e) - (n_v-n_e)*ln(n_v-n_e) ]
    # using n*ln(n) with n*ln(n)=0 at n=0; H(f) likewise from n_v.
    xlx = lambda c: F.when(c > 0, c.cast("double") * F.log(c.cast("double"))).otherwise(F.lit(0.0))
    per_f = cell.groupBy("feature").agg(
        F.count("*").alias("n_values"),
        F.sum("n_e").alias("N_e"),
        F.sum("n_v").alias("N"),
        F.sum(
            xlx(F.col("n_v"))
            - xlx(F.col("n_e"))
            - xlx(F.col("n_v") - F.col("n_e"))
        ).alias("cond_term"),
        F.sum(xlx(F.col("n_v"))).alias("split_term"),
    )
    return per_f.select(
        "feature",
        "n_values",
        F.round(
            (
                xlx(F.col("N"))
                - xlx(F.col("N_e"))
                - xlx(F.col("N") - F.col("N_e"))
            )
            / F.col("N"),
            6,
        ).alias("entropy_y"),
        F.round(F.col("cond_term") / F.col("N"), 6).alias("cond_entropy"),
        F.round(
            (
                xlx(F.col("N"))
                - xlx(F.col("N_e"))
                - xlx(F.col("N") - F.col("N_e"))
            )
            / F.col("N")
            - F.col("cond_term") / F.col("N"),
            6,
        ).alias("info_gain"),
        F.round(
            (F.log(F.col("N").cast("double")) - F.col("split_term") / F.col("N")),
            6,
        ).alias("split_entropy"),
    )


ORACLE_INFO_GAIN = """
ig_rows AS (
  SELECT op.reordered, f.feature, f.value
  FROM iprior_products op
  JOIN iprior_orders o ON op.orderID = o.orderID
  JOIN iproducts p ON op.productID = p.productID
  CROSS JOIN LATERAL (VALUES
    ('aisle', CAST(p.aisle_id AS VARCHAR)),
    ('dep', CAST(p.dep_id AS VARCHAR)),
    ('dow', CAST(o.order_dow AS VARCHAR)),
    ('hod', CAST(o.order_hod AS VARCHAR)),
    ('ds_week', CAST(o.days_since // 7 AS VARCHAR))
  ) AS f(feature, value)
),
ig_cell AS (
  SELECT feature, value,
         CAST(sum(reordered) AS BIGINT) AS n_e,
         CAST(count(*) AS BIGINT) AS n_v
  FROM ig_rows GROUP BY 1, 2
),
ig_per_f AS (
  SELECT feature,
         CAST(count(*) AS BIGINT) AS n_values,
         CAST(sum(n_e) AS BIGINT) AS N_e,
         CAST(sum(n_v) AS BIGINT) AS N,
         sum(CASE WHEN n_v > 0 THEN n_v * ln(CAST(n_v AS DOUBLE)) ELSE 0 END
             - CASE WHEN n_e > 0 THEN n_e * ln(CAST(n_e AS DOUBLE)) ELSE 0 END
             - CASE WHEN n_v - n_e > 0
                    THEN (n_v - n_e) * ln(CAST(n_v - n_e AS DOUBLE))
                    ELSE 0 END) AS cond_term,
         sum(CASE WHEN n_v > 0 THEN n_v * ln(CAST(n_v AS DOUBLE)) ELSE 0 END)
           AS split_term
  FROM ig_cell GROUP BY 1
),
info_gain_ranking AS (
  SELECT feature, n_values,
         round((CASE WHEN N > 0 THEN N * ln(CAST(N AS DOUBLE)) ELSE 0 END
                - CASE WHEN N_e > 0 THEN N_e * ln(CAST(N_e AS DOUBLE)) ELSE 0 END
                - CASE WHEN N - N_e > 0
                       THEN (N - N_e) * ln(CAST(N - N_e AS DOUBLE)) ELSE 0 END)
               / N, 6) AS entropy_y,
         round(cond_term / N, 6) AS cond_entropy,
         round((CASE WHEN N > 0 THEN N * ln(CAST(N AS DOUBLE)) ELSE 0 END
                - CASE WHEN N_e > 0 THEN N_e * ln(CAST(N_e AS DOUBLE)) ELSE 0 END
                - CASE WHEN N - N_e > 0
                       THEN (N - N_e) * ln(CAST(N - N_e AS DOUBLE)) ELSE 0 END)
               / N - cond_term / N, 6) AS info_gain,
         round(ln(CAST(N AS DOUBLE)) - split_term / N, 6) AS split_entropy
  FROM ig_per_f
)
"""
