"""Candidate expansion + label + feature grafts (SURVEY.md J5-J7, U2).

The reference's ``datasetFeatures`` (F.py:128-162) is a driver-side
Python loop: for every train/test order it expands one row per product
the user ever bought, probes a pandas index for the label, and grafts 15
``Series.map`` lookups. Here the same table is one declarative plan:

  (train ∪ test orders) ⋈ users_final  on userID        -- user features
    → explode(all_items)                                 -- J7 (Generate)
    → left join distinct train pairs                     -- J6 label
    → join product_features on productID                 -- J5
    → join user_product_features on (userID, productID)  -- J5
    → join orders on final_orderId → order_number        -- F.py:161 self-lookup
    → ratio/difference projections                       -- F2-F5

Scale notes: the explode amplifies rows by the user's distinct-item
count — the one operator to watch at 100 TB (SURVEY.md §4). The
user-side join keys the shuffle on userID *before* exploding, so the
amplified rows never shuffle again for user-keyed work; the post-explode
joins shuffle on (userID, productID) / productID with AQE skew handling.
Candidate users without prior history are dropped (inner join) — the
reference would KeyError on them (F.py:135); only-prior-history users
generate candidates by construction.

The three feature tables are the ones ``features`` stages per
``InstacartTables``: once the feature queries have run on an input,
this plan reads them as ``InMemoryRelation`` scans, so the only
fact-table scan left in it is the one for the train labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.columns import safe_div
from ..plans.instacart import EVAL_TEST, EVAL_TRAIN, InstacartTables
from ._staging import stage as _stage
from .features import product_features, user_product_features, users_final

#: Model feature columns in reference order (F.py:181-185).
FEATURE_COLS = [
    "user_SumOrders",
    "user_items_purchased_total",
    "distinct_items",
    "user_avg_orderingGap",
    "user_average_items",
    "order_dow",
    "order_hod",
    "days_since",
    "days_sinceProportion",
    "numorders",
    "numreorders",
    "prod_reorderProportion",
    "userProduct_orders",
    "userProduct_ordersRatio",
    "userProduct_average_cartOrder",
    "userProduct_reorderProportion",
    "userProduct_orders_sinceFinal",
]


def candidates(t: InstacartTables) -> DataFrame:
    """The wide candidate table (F.py:128-162): train+test expansions.

    Output: orderID, productID, userID, eval_set, label (0/1) + the 17
    FEATURE_COLS. ``userProduct_reorderProportion`` intentionally
    duplicates ``userProduct_ordersRatio`` — reference bug kept as-is
    because the model feature list includes both (F.py:160, 181-185).
    """
    uf = users_final(t)
    target_orders = t.orders.filter(
        F.col("eval_set").isin(EVAL_TRAIN, EVAL_TEST)
    )

    base = (
        target_orders.join(uf, "userID", "inner")
        .select(
            "orderID",
            "userID",
            "eval_set",
            "order_dow",
            "order_hod",
            "days_since",
            F.col("total_orders").alias("user_SumOrders"),
            F.col("items_purchased_total").alias(
                "user_items_purchased_total"
            ),
            "distinct_items",
            F.col("avg_orderingGap").alias("user_avg_orderingGap"),
            F.col("average_items").alias("user_average_items"),
            # J7: one candidate row per item the user ever bought.
            F.explode("all_items").alias("productID"),
        )
    )

    # J6 label: (orderID, productID) ∈ train order_products. distinct is
    # load-bearing — duplicate basket lines would fan the left join out.
    train_pairs = (
        t.train_products.select("orderID", "productID")
        .distinct()
        .withColumn("_in_train", F.lit(1))
    )
    labeled = base.join(
        train_pairs, ["orderID", "productID"], "left"
    ).withColumn("label", F.col("_in_train").isNotNull().cast("int"))

    prod = product_features(t).select(
        "productID",
        "numorders",
        "numreorders",
        F.col("reorder_ratio").alias("prod_reorderProportion"),
    )
    up = user_product_features(t).select(
        "userID",
        "productID",
        F.col("numorders").alias("userProduct_orders"),
        F.col("final_orderId").alias("userProduct_final_orderId"),
        "sum_cartOrder",
    )
    # F.py:161: order_number of the user's final order for this product.
    final_order_number = t.orders.select(
        F.col("orderID").alias("userProduct_final_orderId"),
        F.col("order_number").alias("_final_order_number"),
    )

    wide = (
        labeled.join(prod, "productID", "inner")
        .join(up, ["userID", "productID"], "inner")
        .join(final_order_number, "userProduct_final_orderId", "inner")
    )

    return wide.select(
        "orderID",
        "productID",
        "userID",
        "eval_set",
        "label",
        "user_SumOrders",
        "user_items_purchased_total",
        "distinct_items",
        "user_avg_orderingGap",
        "user_average_items",
        "order_dow",
        "order_hod",
        "days_since",
        safe_div(F.col("days_since"), F.col("user_avg_orderingGap")).alias(
            "days_sinceProportion"
        ),
        "numorders",
        "numreorders",
        "prod_reorderProportion",
        "userProduct_orders",
        safe_div(
            F.col("userProduct_orders"), F.col("user_SumOrders")
        ).alias("userProduct_ordersRatio"),
        safe_div(
            F.col("sum_cartOrder"), F.col("userProduct_orders")
        ).alias("userProduct_average_cartOrder"),
        safe_div(
            F.col("userProduct_orders"), F.col("user_SumOrders")
        ).alias("userProduct_reorderProportion"),
        (F.col("user_SumOrders") - F.col("_final_order_number")).alias(
            "userProduct_orders_sinceFinal"
        ),
    )


# The oracle expands via the distinct user×product pairs instead of
# unnesting a collected list — provably the same row set (explode of
# collect_set == distinct pairs), and friendlier SQL.
ORACLE_CANDIDATES = """
candidates AS (
  SELECT b.orderID, b.productID, b.userID, b.eval_set,
         CAST(tp.orderID IS NOT NULL AS INT) AS label,
         b.user_SumOrders,
         b.user_items_purchased_total,
         b.distinct_items,
         b.user_avg_orderingGap,
         b.user_average_items,
         b.order_dow, b.order_hod, b.days_since,
         CAST(b.days_since AS DOUBLE) / NULLIF(b.user_avg_orderingGap, 0)
           AS days_sinceProportion,
         pf.numorders, pf.numreorders,
         pf.reorder_ratio AS prod_reorderProportion,
         up.numorders AS userProduct_orders,
         CAST(up.numorders AS DOUBLE) / NULLIF(b.user_SumOrders, 0)
           AS userProduct_ordersRatio,
         CAST(up.sum_cartOrder AS DOUBLE) / NULLIF(up.numorders, 0)
           AS userProduct_average_cartOrder,
         CAST(up.numorders AS DOUBLE) / NULLIF(b.user_SumOrders, 0)
           AS userProduct_reorderProportion,
         b.user_SumOrders - fo.order_number AS userProduct_orders_sinceFinal
  FROM (
    SELECT o.orderID, o.userID, o.eval_set, o.order_dow, o.order_hod,
           o.days_since,
           u.total_orders            AS user_SumOrders,
           u.items_purchased_total   AS user_items_purchased_total,
           u.distinct_items,
           u.avg_orderingGap         AS user_avg_orderingGap,
           u.average_items           AS user_average_items,
           ui.productID
    FROM iorders o
    JOIN users_final u USING (userID)
    JOIN (SELECT DISTINCT userID, productID FROM prior_enriched) ui
      USING (userID)
    WHERE o.eval_set IN (1, 2)
  ) b
  LEFT JOIN (SELECT DISTINCT orderID, productID FROM itrain_products) tp
    ON tp.orderID = b.orderID AND tp.productID = b.productID
  JOIN product_features pf ON pf.productID = b.productID
  JOIN user_product_features up
    ON up.userID = b.userID AND up.productID = b.productID
  JOIN iorders fo ON fo.orderID = up.final_orderId
)
"""


def candidates_staged(t: InstacartTables) -> DataFrame:
    """Staged, persisted candidate table (MEMORY_AND_DISK: the wide
    table can exceed executor memory at scale; spill beats recompute
    for a 5-consumer staging table). It is materialized ONCE per run
    and consumed by the submission formatter, the SQL view, and three
    model scorers — re-deriving the explode join per consumer would
    repeat the widest shuffle in the whole pipeline."""
    return _stage("candidates", t, lambda: candidates(t), persist=True)


LIFT_BINS = 10


def feature_lift(t) -> DataFrame:
    """Feature calibration / lift table over the TRAIN candidates: bin
    the product reorder-ratio feature into fixed-width decile bins and
    report each bin's candidate count, positive count, positive rate,
    and lift over the base rate — the standard pre-training sanity
    check that a ranking feature is monotone in the label before any
    model consumes it (a flat table here means the feature is noise).

    Fixed-width bins (floor(score*10), capped at 9) instead of ntile:
    a quantile binning would global-sort the candidate table (the
    widest table in the pipeline) through one window — the 100 TB
    mistake; fixed bins are a map-only projection + one hash-agg.
    Rates and lift are ratios of exact integer counts (hash-stable;
    base-rate division folds identically in both engines).
    """
    from .candidates import candidates_staged

    cand = candidates_staged(t).filter(F.col("eval_set") == 1)
    binned = cand.select(
        F.least(
            F.floor(F.col("prod_reorderProportion") * LIFT_BINS), F.lit(9)
        )
        .cast("int")
        .alias("bin"),
        "label",
    )
    totals = binned.agg(
        F.count("*").alias("n_all"), F.sum("label").alias("pos_all")
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum("label").cast("bigint").alias("n_positive"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "bin",
            "n_candidates",
            "n_positive",
            (F.col("n_positive") / F.col("n_candidates")).alias("pos_rate"),
            (
                (F.col("n_positive") / F.col("n_candidates"))
                / (F.col("pos_all") / F.col("n_all"))
            ).alias("lift"),
        )
    )


ORACLE_FEATURE_LIFT = """
fl_binned AS (
  SELECT CAST(least(floor(prod_reorderProportion * 10), 9) AS INT)
           AS bin,
         label
  FROM candidates WHERE eval_set = 1
),
fl_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all,
         CAST(sum(label) AS BIGINT) AS pos_all
  FROM fl_binned
),
feature_lift AS (
  SELECT bin,
         CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(sum(label) AS BIGINT) AS n_positive,
         CAST(sum(label) AS BIGINT) / CAST(count(*) AS DOUBLE)
           AS pos_rate,
         (CAST(sum(label) AS BIGINT) / CAST(count(*) AS DOUBLE))
           / (pos_all / CAST(n_all AS DOUBLE)) AS lift
  FROM fl_binned, fl_tot
  GROUP BY bin, pos_all, n_all
)
"""
