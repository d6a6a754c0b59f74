"""Standalone relational operator queries (SURVEY.md §2b, §2f, O1, P2/P6,
A13, plus a top-k window demo).

Small single-purpose queries that pin down operator semantics the bigger
pipelines rely on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.instacart import InstacartTables
from .features import product_features, user_product_features


def orders_limited(t: InstacartTables, n: int = 10_000) -> DataFrame:
    """O1 (F.py:34): the working-set cap, made deterministic.

    The reference's ``take(10000)`` is partition-order dependent; the
    engine form is ``ORDER BY orderID LIMIT n`` (orderID is unique, so
    the row set is stable on any cluster layout). TopK via
    TakeOrderedAndProject — no global sort materialization.
    """
    return t.orders.orderBy("orderID").limit(n)


ORACLE_ORDERS_LIMITED = """
orders_limited AS (
  SELECT * FROM iorders ORDER BY orderID LIMIT 10000
)
"""


def dept_aisle_rollup(t: InstacartTables) -> DataFrame:
    """ROLLUP aggregation over the product dim: (dep, aisle) -> dep ->
    grand total in one pass — the multi-level-report shape. Spark and
    DuckDB both emit NULL for rolled-up levels; one partial-agg shuffle
    covers all levels."""
    return (
        product_features(t)
        .rollup("dep_id", "aisle_id")
        .agg(
            F.count("*").alias("n_products"),
            F.sum("numorders").alias("total_orders"),
        )
    )


ORACLE_DEPT_AISLE_ROLLUP = """
dept_aisle_rollup AS (
  SELECT dep_id, aisle_id,
         count(*) AS n_products,
         CAST(sum(numorders) AS BIGINT) AS total_orders
  FROM product_features
  GROUP BY ROLLUP (dep_id, aisle_id)
)
"""


def products_only_prior(t: InstacartTables) -> DataFrame:
    """Set operation (EXCEPT): products bought in prior orders but never
    in train orders. exceptAll-free distinct form -> one hash-distinct
    per side + a left-anti shuffle, all on the productID key."""
    prior = t.prior_products.select("productID").distinct()
    train = t.train_products.select("productID").distinct()
    return prior.exceptAll(train)


ORACLE_PRODUCTS_ONLY_PRIOR = """
products_only_prior AS (
  SELECT DISTINCT productID FROM iprior_products
  EXCEPT
  SELECT DISTINCT productID FROM itrain_products
)
"""


def parts_intersect_all(lineitem: DataFrame) -> DataFrame:
    """Set operation (INTERSECT ALL — multiset semantics): part keys
    common to the 'R'-returned and 'N'-kept lineitem multisets, each
    key surviving min(count_R, count_N) times. Completes the set-op
    family next to EXCEPT: INTERSECT ALL is its own physical operator
    (a count-min merge, not a join), and multiplicity is part of the
    contract — the oracle's INTERSECT ALL must agree on duplicate
    counts, not just membership. One shuffle per side on the key.
    """
    returned = lineitem.filter(F.col("l_returnflag") == "R").select(
        F.col("l_partkey").alias("part_key")
    )
    kept = lineitem.filter(F.col("l_returnflag") == "N").select(
        F.col("l_partkey").alias("part_key")
    )
    return returned.intersectAll(kept)


ORACLE_PARTS_INTERSECT_ALL = """
parts_intersect_all AS (
  SELECT l_partkey AS part_key FROM lineitem WHERE l_returnflag = 'R'
  INTERSECT ALL
  SELECT l_partkey AS part_key FROM lineitem WHERE l_returnflag = 'N'
)
"""


def user_segment_stats(t: InstacartTables, customer: DataFrame) -> DataFrame:
    """Dimension-enrichment rollup: user order stats by market segment
    (the customer fixture is the users dimension, FIXTURES.md §B).

    Per-user aggregates shuffle once on userID; the segment dim lookup
    broadcasts; the final segment agg moves |segments| rows. All output
    doubles are ratios of integral sums (hash-stable across engines).
    """
    per_user = t.orders.groupBy("userID").agg(
        F.count("*").alias("n_orders"),
        F.sum("days_since").alias("sum_gap"),
    )
    seg = customer.select(
        F.col("c_custkey").alias("userID"),
        F.col("c_mktsegment").alias("segment"),
    )
    return (
        per_user.join(F.broadcast(seg), "userID", "inner")
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("n_orders").alias("total_orders"),
            (F.sum("sum_gap") / F.sum("n_orders")).alias("avg_gap_days"),
        )
    )


ORACLE_USER_SEGMENT_STATS = """
user_segment_stats AS (
  SELECT c.c_mktsegment AS segment,
         count(*) AS n_users,
         CAST(sum(u.n_orders) AS BIGINT) AS total_orders,
         CAST(sum(u.sum_gap) AS DOUBLE) / sum(u.n_orders) AS avg_gap_days
  FROM (
    SELECT userID,
           count(*) AS n_orders,
           CAST(sum(days_since) AS BIGINT) AS sum_gap
    FROM iorders GROUP BY userID
  ) u
  JOIN customer c ON c.c_custkey = u.userID
  GROUP BY 1
)
"""


def eval_split_counts(t: InstacartTables) -> DataFrame:
    """P2 + A13 (F.py:35-43): the prior/train/test split cardinalities."""
    return t.orders.groupBy("eval_set").agg(F.count("*").alias("n_orders"))


ORACLE_EVAL_SPLIT_COUNTS = """
eval_split_counts AS (
  SELECT eval_set, count(*) AS n_orders FROM iorders GROUP BY eval_set
)
"""


def threshold_binarize(t: InstacartTables) -> DataFrame:
    """P6 (F.py:242-244): score -> {0,1} at the 0.19 threshold.

    Applied to the deterministic per-product reorder_ratio so the oracle
    can check it (the reference applies it to model scores; the ML layer
    reuses this exact expression).
    """
    return product_features(t).select(
        "productID",
        F.when(F.col("reorder_ratio") < 0.19, F.lit(0.0))
        .otherwise(F.lit(1.0))
        .alias("picked"),
    )


ORACLE_THRESHOLD_BINARIZE = """
threshold_binarize AS (
  SELECT productID,
         CAST(CASE WHEN reorder_ratio < 0.19 THEN 0.0 ELSE 1.0 END AS DOUBLE)
           AS picked
  FROM product_features
)
"""


def top_products_per_user(t: InstacartTables, k: int = 3) -> DataFrame:
    """Top-k per group via ranking window (engine extension; SURVEY §2e
    notes the reference has no window functions — this pins the pattern
    the engine uses wherever per-group ranking is needed).

    Deterministic tie-break on productID.
    """
    w = Window.partitionBy("userID").orderBy(
        F.col("numorders").desc(), F.col("productID")
    )
    return (
        user_product_features(t)
        .select(
            "userID",
            "productID",
            "numorders",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )


ORACLE_TOP_PRODUCTS_PER_USER = """
top_products_per_user AS (
  SELECT userID, productID, numorders, rank FROM (
    SELECT userID, productID, numorders,
           CAST(row_number() OVER (
             PARTITION BY userID
             ORDER BY numorders DESC, productID) AS INT) AS rank
    FROM user_product_features
  ) WHERE rank <= 3
)
"""


def geo_customer_rollup(
    customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Snowflake-dimension chain: customer -> nation -> region, rolled
    up region -> nation -> grand total with grouping flags.

    The classic star/snowflake join shape: both dim hops are explicit
    broadcasts (25 and 5 rows — at any scale the geography dims stay
    broadcast-size), so the fact table never shuffles for the join; the
    ROLLUP is the only exchange.
    """
    joined = customer.join(
        F.broadcast(nation),
        customer["c_nationkey"] == nation["n_nationkey"],
    ).join(
        F.broadcast(region),
        nation["n_regionkey"] == region["r_regionkey"],
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 4).alias("total_acctbal"),
            F.grouping("r_name").cast("int").alias("g_region"),
            F.grouping("n_name").cast("int").alias("g_nation"),
        )
    )


ORACLE_GEO_CUSTOMER_ROLLUP = """
geo_customer_rollup AS (
  SELECT r_name, n_name,
         count(*) AS n_customers,
         round(sum(c_acctbal), 4) AS total_acctbal,
         CAST(GROUPING(r_name) AS INT) AS g_region,
         CAST(GROUPING(n_name) AS INT) AS g_nation
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY ROLLUP (r_name, n_name)
)
"""


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary over lineitem — the classic
    full-scan single-hash-agg OLAP benchmark shape. The scan reads only
    the 7 referenced columns (column pruning) and the shipdate filter
    pushes to parquet; the agg is one shuffle over a handful of group
    keys.

    Money math runs in DECIMAL: double summation is re-association-
    sensitive (partition order changes the low bits; at 1e8 magnitudes
    the wobble survives round(4)), while decimal sums are exact in both
    engines. Results cast back to double AFTER the exact sum, so the
    hash is bit-stable and the output schema stays plain.
    """
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    tax = F.col("l_tax").cast("decimal(18,4)")
    one = F.lit(1).cast("decimal(18,4)")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (one - disc))
            .cast("double").alias("sum_disc_price"),
            F.sum(price * (one - disc) * (one + tax))
            .cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
pricing_summary AS (
  SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
           AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
           AS sum_base_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (CAST(1 AS DECIMAL(18,4))
                     - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
           AS sum_disc_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (CAST(1 AS DECIMAL(18,4))
                     - CAST(l_discount AS DECIMAL(18,4)))
                  * (CAST(1 AS DECIMAL(18,4))
                     + CAST(l_tax AS DECIMAL(18,4)))) AS DOUBLE)
           AS sum_charge,
         CAST(count(*) AS BIGINT) AS count_order
  FROM lineitem
  WHERE l_shipdate <= '1998-09-02'
  GROUP BY 1, 2
)
"""


def shipping_priority(
    orders: DataFrame, lineitem: DataFrame, k: int = 10
) -> DataFrame:
    """TPC-H-Q3-shaped top-k revenue orders: filtered fact-fact join +
    hash-agg + deterministic TopK (TakeOrdered — no global sort
    materialization). Both filters push to their scans; the join
    shuffles only surviving rows; revenue in exact DECIMAL, cast to
    double after aggregation.
    """
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)")
           - F.col("l_discount").cast("decimal(18,4)"))
    )
    return (
        orders.filter(F.col("o_orderstatus") != "F")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
        .join(
            lineitem.filter(F.col("l_shipdate") > F.lit("1995-03-15"))
            .select("l_orderkey", "l_extendedprice", "l_discount"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            # NTZ-safe, tz-independent rendering (unix_millis would
            # reinterpret the naive value in the session tz).
            F.date_format("o_orderdate", "yyyy-MM-dd").alias(
                "o_orderdate_str"
            ),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(k)
    )


def oracle_shipping_priority(k: int = 10) -> str:
    return f"""
shipping_priority AS (
  SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str,
         o_orderpriority,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (CAST(1 AS DECIMAL(18,4))
                     - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
           AS revenue
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderstatus <> 'F' AND l_shipdate > '1995-03-15'
  GROUP BY 1, 2, 3
  ORDER BY revenue DESC, o_orderkey
  LIMIT {k}
)
"""


def customer_returns(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    k: int = 20,
) -> DataFrame:
    """TPC-H-Q10-shaped returned-item report: top-k customers by
    revenue lost to returned lineitems, annotated with the nation dim.

    Plan shape at scale: the ``l_returnflag = 'R'`` filter reaches the
    lineitem scan (row-group pruning on the flag column), the fact-fact
    join shuffles only returned rows, customer joins on the already
    aggregated per-customer revenue is wrong — aggregate AFTER the
    customer join would shuffle the wide row; instead revenue is
    grouped on the join keys and the 25-row nation dim broadcasts.
    Money in exact DECIMAL until after the final agg (hash-stable).
    """
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)")
           - F.col("l_discount").cast("decimal(18,4)"))
    )
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            customer.select(
                "c_custkey", "c_name", "c_acctbal", "c_nationkey"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue_lost"))
        .orderBy(F.col("revenue_lost").desc(), "c_custkey")
        .limit(k)
    )


def oracle_customer_returns(k: int = 20) -> str:
    return f"""
customer_returns AS (
  SELECT c_custkey, c_name, c_acctbal, n_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (CAST(1 AS DECIMAL(18,4))
                     - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
           AS revenue_lost
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
  GROUP BY 1, 2, 3, 4
  ORDER BY revenue_lost DESC, c_custkey
  LIMIT {k}
)
"""


LARGE_ORDER_MIN_QTY = 250


def large_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    min_qty: int = LARGE_ORDER_MIN_QTY,
) -> DataFrame:
    """TPC-H-Q18-shaped large-volume orders: orders whose summed
    lineitem quantity clears ``min_qty``, with customer attribution.

    The classic Q18 plan point, kept deliberately: the HAVING-filtered
    quantity aggregation runs FIRST, over just (l_orderkey,
    l_quantity), and its tiny survivor set then drives the joins to
    orders and customer — at 100 TB the agg output is a few thousand
    rows, so the wide tables are never shuffled on an unfiltered key.
    The survivor set's size is data-dependent, so no broadcast hint is
    forced — AQE observes the post-HAVING size at runtime and converts
    the join to broadcast exactly when it fits. Quantities sum in exact
    DECIMAL (hash-stable, no float accumulation order dependence).
    """
    qty = (
        lineitem.select(
            "l_orderkey", F.col("l_quantity").cast("decimal(18,4)").alias("q")
        )
        .groupBy("l_orderkey")
        .agg(F.sum("q").alias("total_qty"))
        .filter(F.col("total_qty") > F.lit(min_qty))
    )
    return (
        orders.select(
            "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
        )
        .join(qty, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            customer.select("c_custkey", "c_name"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias(
                "o_orderdate_str"
            ),
            "o_totalprice",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


def oracle_large_orders(min_qty: int = LARGE_ORDER_MIN_QTY) -> str:
    return f"""
large_orders AS (
  SELECT c_custkey, c_name, o_orderkey,
         strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str,
         o_totalprice, CAST(total_qty AS DOUBLE) AS total_qty
  FROM (
    SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,4))) AS total_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > {min_qty}
  ) q
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON o_custkey = c_custkey
)
"""


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, value: str
) -> DataFrame:
    """Snapshot reconciliation: FULL OUTER join two versions of a table
    on its key and classify every key as added / removed / changed /
    unchanged — the data-engineering staple for validating an
    incremental load against the previous snapshot. One shuffle per
    side on the key; the classification is a pure projection.
    """
    o = old.select(F.col(key).alias("k"), F.col(value).alias("old_v"))
    n = new.select(F.col(key).alias("k"), F.col(value).alias("new_v"))
    joined = o.join(n, "k", "full_outer")
    status = (
        F.when(F.col("old_v").isNull(), "added")
        .when(F.col("new_v").isNull(), "removed")
        .when(F.col("old_v") != F.col("new_v"), "changed")
        .otherwise("unchanged")
    )
    return joined.select(
        F.col("k").alias(key), "old_v", "new_v", status.alias("status")
    )


#: the declared query diffs two deterministic halves of orders (keys
#: < 2/3 of max vs >= 1/3 of max, overlapping in the middle third, with
#: the "new" side's totalprice restated on even keys).
def orders_snapshot_diff(orders: DataFrame) -> DataFrame:
    """Snapshot reconciliation: FULL OUTER join of two deterministic
    orders snapshots, keys classified added/removed/changed/unchanged."""
    # global max as a broadcast 1-row join, NOT an empty-partition
    # window (which would gather every row into a single partition).
    mx = orders.agg(F.max("o_orderkey").alias("mx"))
    base = orders.select(
        "o_orderkey", F.round("o_totalprice", 4).alias("price")
    ).crossJoin(F.broadcast(mx))
    old = base.filter(F.col("o_orderkey") * 3 < F.col("mx") * 2)
    new = base.filter(F.col("o_orderkey") * 3 >= F.col("mx")).withColumn(
        "price",
        F.when(
            F.col("o_orderkey") % 2 == 0, F.round(F.col("price") * 2, 4)
        ).otherwise(F.col("price")),
    )
    return snapshot_diff(old, new, "o_orderkey", "price")


ORACLE_ORDERS_SNAPSHOT_DIFF = """
sd_base AS (
  SELECT o_orderkey, round(o_totalprice, 4) AS price,
         max(o_orderkey) OVER () AS mx
  FROM orders
),
sd_old AS (
  SELECT o_orderkey, price FROM sd_base WHERE o_orderkey * 3 < mx * 2
),
sd_new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 2 = 0 THEN round(price * 2, 4)
              ELSE price END AS price
  FROM sd_base WHERE o_orderkey * 3 >= mx
),
orders_snapshot_diff AS (
  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         o.price AS old_v, n.price AS new_v,
         CASE WHEN o.price IS NULL THEN 'added'
              WHEN n.price IS NULL THEN 'removed'
              WHEN o.price <> n.price THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM sd_old o FULL OUTER JOIN sd_new n USING (o_orderkey)
)
"""


def regional_revenue(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
) -> DataFrame:
    """TPC-H-Q5-shaped deep join: revenue per nation for one region —
    lineitem |x| orders |x| customer |x| nation |x| region (the
    local-supplier leg of real Q5 is omitted; the plan shape is the
    point). The region filter prunes through the broadcast dim chain
    BEFORE the fact tables join: region -> nation -> customer all
    broadcast, so the only shuffles are the two fact tables meeting on
    o_orderkey. Revenue in exact DECIMAL, cast to double post-agg.
    """
    dims = (
        customer.select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(
                        region.filter(F.col("r_name") == region_name)
                    ),
                    nation["n_regionkey"] == region["r_regionkey"],
                )
            ),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .select("c_custkey", "n_name")
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)")
           - F.col("l_discount").cast("decimal(18,4)"))
    )
    return (
        lineitem.select("l_orderkey", rev.alias("rev"))
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


def oracle_regional_revenue(region_name: str = "ASIA") -> str:
    return f"""
regional_revenue AS (
  SELECT n_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (CAST(1 AS DECIMAL(18,4))
                     - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
           AS revenue,
         CAST(count(*) AS BIGINT) AS n_lineitems
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = '{region_name}'
  GROUP BY 1
)
"""


#: merge demo: source = every 7th order restated, plus synthesized new
#: keys offset far above the existing key range.
MERGE_MOD = 7
MERGE_NEW_KEY_OFFSET = 10_000_000


def merge_upsert_orders(orders: DataFrame) -> DataFrame:
    """MERGE INTO semantics as a pure DataFrame composition (no table
    format required): WHEN MATCHED -> update, WHEN NOT MATCHED ->
    insert, untouched target rows pass through.

    The source is derived deterministically from the target (every 7th
    order restated with doubled price + demoted priority, and the same
    rows re-keyed above the key range as inserts) so the whole merge is
    oracle-replayable. Plan shape is the real one: target LEFT ANTI
    source (pass-through) + source-applied rows, one union, all joins
    equi on the merge key — the same dance Delta/Iceberg run inside
    their MERGE, minus the transaction log. At scale the source side is
    day-sized and broadcastable; the anti join prunes with the same
    runtime filters as any equi join.
    """
    src_base = orders.filter(
        F.col("o_orderkey") % MERGE_MOD == F.lit(0)
    ).select(
        "o_orderkey",
        (F.col("o_totalprice") * 2).alias("s_totalprice"),
        F.lit("5-LOW").alias("s_orderpriority"),
    )
    inserts = src_base.select(
        (F.col("o_orderkey") + MERGE_NEW_KEY_OFFSET).alias("o_orderkey"),
        F.col("s_totalprice"),
        F.col("s_orderpriority"),
    )
    source = src_base.unionByName(inserts)

    target = orders.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    untouched = target.join(source, "o_orderkey", "left_anti").select(
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
        F.lit("keep").alias("merge_op"),
    )
    updated = target.join(source, "o_orderkey").select(
        "o_orderkey",
        F.col("s_totalprice").alias("o_totalprice"),
        F.col("s_orderpriority").alias("o_orderpriority"),
        F.lit("update").alias("merge_op"),
    )
    inserted = source.join(target, "o_orderkey", "left_anti").select(
        "o_orderkey",
        F.col("s_totalprice").alias("o_totalprice"),
        F.col("s_orderpriority").alias("o_orderpriority"),
        F.lit("insert").alias("merge_op"),
    )
    return untouched.unionByName(updated).unionByName(inserted)


ORACLE_MERGE_UPSERT = f"""
mg_src_base AS (
  SELECT o_orderkey, o_totalprice * 2 AS s_totalprice,
         '5-LOW' AS s_orderpriority
  FROM orders WHERE o_orderkey % {MERGE_MOD} = 0
),
mg_source AS (
  SELECT * FROM mg_src_base
  UNION ALL
  SELECT o_orderkey + {MERGE_NEW_KEY_OFFSET}, s_totalprice,
         s_orderpriority
  FROM mg_src_base
),
merge_upsert_orders AS (
  SELECT t.o_orderkey, t.o_totalprice, t.o_orderpriority,
         'keep' AS merge_op
  FROM orders t
  WHERE NOT EXISTS (SELECT 1 FROM mg_source s
                    WHERE s.o_orderkey = t.o_orderkey)
  UNION ALL
  SELECT t.o_orderkey, s.s_totalprice, s.s_orderpriority, 'update'
  FROM orders t JOIN mg_source s USING (o_orderkey)
  UNION ALL
  SELECT s.o_orderkey, s.s_totalprice, s.s_orderpriority, 'insert'
  FROM mg_source s
  WHERE NOT EXISTS (SELECT 1 FROM orders t
                    WHERE t.o_orderkey = s.o_orderkey)
)
"""


def suppliers_waiting(
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    k: int = 25,
) -> DataFrame:
    """TPC-H-Q21-shaped "suppliers who kept orders waiting": for each
    supplier, count finalized multi-supplier orders where THEIR line
    was the only returned one (``l_returnflag = 'R'`` stands in for
    Q21's receipt-after-commit predicate — the fixture has no
    commit/receipt dates).

    The textbook form is a doubly-correlated EXISTS + NOT EXISTS over
    the same fact table. Correlated per-row probes don't distribute, so
    the plan decorrelates into ONE per-order profile aggregation:

      n_supp   = countDistinct(supplier)          -> EXISTS(other supp)
      n_r_supp = countDistinct(supplier | flag R) -> NOT EXISTS(other R)

    An order qualifies iff ``n_supp > 1 AND n_r_supp = 1``, and the
    single R-supplier of a qualifying order is — by construction — the
    waiting supplier. One hash-agg + one semi-shaped join replaces two
    correlated subqueries; the DuckDB oracle keeps the correlated form,
    so the hash-match proves the decorrelation equivalent. At 100 TB
    both sides shuffle once on l_orderkey and AQE handles order-size
    skew; the supplier dim is broadcast.
    """
    # ONE per-order profile carries the waiting supplier too (r10,
    # guide §2.3 — aggregate before you shuffle): a qualifying order
    # has EXACTLY ONE distinct R-supplier (n_r_supp = 1), so
    # max(when(R, suppkey)) is that supplier — the second lineitem
    # scan, the pair distinct, and the probe join of the previous
    # shape all collapse into the same hash-agg. Equivalence: the old
    # distinct (l_orderkey, l_suppkey) stream restricted to qualifying
    # orders held exactly one row per order, the order's single
    # R-supplier — which is what max() returns here.
    # two-level agg instead of countDistinct: the (order, supplier)
    # pre-agg gets map-side partial aggregation and avoids the 2x
    # Expand the two distinct columns would plan; n_r_supp =
    # #suppliers with ANY R line = sum(has_r) over the distinct pair
    # grain — the same numbers by construction. A NULL l_suppkey is
    # no supplier: the correlated form's `l_suppkey <>` never matches
    # NULL, so such a line neither counts as the other supplier nor
    # blocks one, and is dropped before the pair grain.
    per_pair = lineitem.filter(F.col("l_suppkey").isNotNull()).groupBy(
        "l_orderkey", "l_suppkey"
    ).agg(
        F.max((F.col("l_returnflag") == "R").cast("int")).alias(
            "has_r"
        )
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum("has_r").alias("n_r_supp"),
        F.max(
            F.when(F.col("has_r") == 1, F.col("l_suppkey"))
        ).alias("r_supp"),
    )
    eligible = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_r_supp") == 1)
    ).select("l_orderkey", F.col("r_supp").alias("l_suppkey"))
    final_orders = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    waiting = (
        eligible.join(final_orders, "l_orderkey")
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
    )
    return (
        waiting.join(
            F.broadcast(supplier),
            waiting["l_suppkey"] == supplier["s_suppkey"],
        )
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name", "s_suppkey")
        .limit(k)
    )


ORACLE_SUPPLIERS_WAITING = """
sw_hits AS (
  SELECT DISTINCT l1.l_suppkey, l1.l_orderkey
  FROM lineitem l1
  JOIN orders o ON o.o_orderkey = l1.l_orderkey
  WHERE l1.l_returnflag = 'R' AND o.o_orderstatus = 'F'
    AND EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_returnflag = 'R')
),
suppliers_waiting AS (
  SELECT s.s_suppkey, s.s_name, count(*) AS numwait
  FROM sw_hits w JOIN supplier s ON s.s_suppkey = w.l_suppkey
  GROUP BY s.s_suppkey, s.s_name
  ORDER BY numwait DESC, s_name, s_suppkey
  LIMIT 25
)
"""


#: Q15-shaped revenue window (3 months inside the fixture's shipdate
#: span 1995-01..2001-11).
TOP_SUPPLIER_DATE_LO = "1996-01-01"
TOP_SUPPLIER_DATE_HI = "1996-04-01"


def top_supplier_revenue(
    supplier: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """TPC-H-Q15-shaped top supplier: revenue per supplier over a
    3-month shipdate window, returning the supplier(s) whose revenue
    equals the global maximum.

    The classic form is a view + ``WHERE total_revenue = (SELECT
    max(...) FROM view)``. Distributed plan: compute the revenue agg
    ONCE, derive the 1-row global max from it, and broadcast that row
    back against the agg — the view is never evaluated twice and
    nothing funnels through a single partition (an empty-frame window
    ``max() OVER ()`` would). Money in DECIMAL for bit-stable sums;
    cast to double only at the end.
    """
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    one = F.lit(1).cast("decimal(18,4)")
    revenue = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(TOP_SUPPLIER_DATE_LO))
            & (F.col("l_shipdate") < F.lit(TOP_SUPPLIER_DATE_HI))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(price * (one - disc)).alias("total_revenue_dec"))
    )
    mx = revenue.agg(
        F.max("total_revenue_dec").alias("max_revenue_dec")
    )
    return (
        revenue.join(
            F.broadcast(mx),
            revenue["total_revenue_dec"] == mx["max_revenue_dec"],
        )
        .join(
            F.broadcast(supplier),
            revenue["l_suppkey"] == supplier["s_suppkey"],
        )
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue_dec").cast("double").alias("total_revenue"),
        )
    )


ORACLE_TOP_SUPPLIER_REVENUE = f"""
tsr_revenue AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,4))
             * (CAST(1 AS DECIMAL(18,4))
                - CAST(l_discount AS DECIMAL(18,4)))) AS total_revenue_dec
  FROM lineitem
  WHERE l_shipdate >= '{TOP_SUPPLIER_DATE_LO}'
    AND l_shipdate < '{TOP_SUPPLIER_DATE_HI}'
  GROUP BY l_suppkey
),
top_supplier_revenue AS (
  SELECT s.s_suppkey, s.s_name,
         CAST(r.total_revenue_dec AS DOUBLE) AS total_revenue
  FROM tsr_revenue r
  JOIN supplier s ON s.s_suppkey = r.l_suppkey
  WHERE r.total_revenue_dec = (SELECT max(total_revenue_dec)
                               FROM tsr_revenue)
)
"""


#: Q22-shaped: market segments standing in for Q22's phone prefixes.
GLOBAL_BAL_SEGMENTS = ("AUTOMOBILE", "BUILDING", "MACHINERY")


def idle_rich_customers(
    customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """TPC-H-Q22-shaped "global sales opportunity": customers in a
    segment allowlist with above-average account balance who have
    never placed an order, rolled up per segment.

    Two classic constructs in one plan, both distributed right:

      - the scalar AVG subquery (positive balances in the allowlist)
        is a 1-row agg broadcast into the filter — evaluated once,
        never a per-row probe;
      - NOT EXISTS(orders) is a left ANTI join on o_custkey — the
        orders side is aggregated to distinct custkeys first, so the
        anti probe is against the small distinct set, not the fact
        table.

    Money stays DECIMAL until the final cast (bit-stable sums).
    """
    seg = F.col("c_mktsegment").isin(*GLOBAL_BAL_SEGMENTS)
    bal = F.col("c_acctbal").cast("decimal(18,4)")
    pool = customer.filter(seg).select(
        "c_custkey", "c_mktsegment", bal.alias("bal")
    )
    avg_bal = pool.filter(F.col("bal") > 0).agg(
        F.avg("bal").alias("avg_bal")
    )
    buyers = orders.select("o_custkey").distinct()
    return (
        pool.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("bal") > F.col("avg_bal"))
        .join(
            buyers,
            pool["c_custkey"] == buyers["o_custkey"],
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_custs"),
            F.sum("bal").cast("double").alias("total_bal"),
        )
    )


def oracle_idle_rich_customers() -> str:
    segs = ", ".join(f"'{s}'" for s in GLOBAL_BAL_SEGMENTS)
    return f"""
irc_pool AS (
  SELECT c_custkey, c_mktsegment,
         CAST(c_acctbal AS DECIMAL(18,4)) AS bal
  FROM customer
  WHERE c_mktsegment IN ({segs})
),
idle_rich_customers AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n_custs,
         CAST(sum(bal) AS DOUBLE) AS total_bal
  FROM irc_pool p
  WHERE bal > (SELECT avg(bal) FROM irc_pool WHERE bal > 0)
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = p.c_custkey)
  GROUP BY c_mktsegment
)
"""


#: Q14-shaped: brand prefix standing in for Q14's PROMO type prefix.
PROMO_BRAND_PREFIX = "Brand#1"
PROMO_DATE_LO = "1997-01-01"
PROMO_DATE_HI = "1997-02-01"


def promo_revenue_share(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H-Q14-shaped promo share: the percentage of one month's
    revenue coming from promo-branded parts — a ratio of two
    conditional DECIMAL sums over a single fact-dim join (one scan,
    one broadcast join, one 1-row agg; the CASE folds both sums into
    the same aggregation pass). The ratio divides in DECIMAL and casts
    to double rounded to 4 at the very end."""
    price = F.col("l_extendedprice").cast("decimal(18,4)")
    disc = F.col("l_discount").cast("decimal(18,4)")
    one = F.lit(1).cast("decimal(18,4)")
    rev = price * (one - disc)
    promo = F.col("p_brand").startswith(PROMO_BRAND_PREFIX)
    joined = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(PROMO_DATE_LO))
            & (F.col("l_shipdate") < F.lit(PROMO_DATE_HI))
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
    )
    agg = joined.agg(
        F.sum(F.when(promo, rev).otherwise(F.lit(0).cast("decimal(18,4)")))
        .alias("promo_rev"),
        F.sum(rev).alias("total_rev"),
    )
    return agg.select(
        F.round(
            (F.lit(100).cast("decimal(18,4)") * F.col("promo_rev")
             / F.col("total_rev")).cast("double"),
            4,
        ).alias("promo_pct"),
        F.col("promo_rev").cast("double").alias("promo_rev"),
        F.col("total_rev").cast("double").alias("total_rev"),
    )


ORACLE_PROMO_REVENUE_SHARE = f"""
prs_joined AS (
  SELECT CAST(l_extendedprice AS DECIMAL(18,4))
         * (CAST(1 AS DECIMAL(18,4))
            - CAST(l_discount AS DECIMAL(18,4))) AS rev,
         p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= '{PROMO_DATE_LO}' AND l_shipdate < '{PROMO_DATE_HI}'
),
promo_revenue_share AS (
  SELECT round(CAST(CAST(100 AS DECIMAL(18,4))
               * sum(CASE WHEN p_brand LIKE '{PROMO_BRAND_PREFIX}%'
                          THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END)
               / sum(rev) AS DOUBLE), 4) AS promo_pct,
         CAST(sum(CASE WHEN p_brand LIKE '{PROMO_BRAND_PREFIX}%'
                       THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END)
              AS DOUBLE) AS promo_rev,
         CAST(sum(rev) AS DOUBLE) AS total_rev
  FROM prs_joined
)
"""


def _delta_split(df: DataFrame, key: str, mod: int) -> tuple:
    """Deterministic base/delta split: delta = rows whose key is
    divisible by ``mod`` (stand-in for 'the new batch')."""
    is_delta = F.col(key) % mod == 0
    return df.filter(~is_delta), df.filter(is_delta)


#: delta-split moduli for the two fact sides.
IVM_ORDERS_MOD = 10
IVM_LINEITEM_MOD = 7


def incremental_join_view(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Incremental maintenance of a JOIN view: the revenue-per-priority
    aggregate over orders JOIN lineitem, updated with delta batches on
    BOTH sides using the textbook delta-join algebra

        V(A + dA, B + dB) = agg( A><B  +  dA><B  +  A><dB  +  dA><dB )

    The standing term A><B is aggregated ONCE (in production it is the
    stored view); at update time only the three delta joins run — each
    bounded by a delta's size, never a full fact-fact rejoin. All four
    terms partial-aggregate to the tiny group domain BEFORE the merge,
    so the final re-aggregation is over 4x|groups| rows. The oracle
    recomputes the view from scratch — the hash-match proves the
    algebra lossless. Money in DECIMAL (exact merge; float partials
    would drift by accumulation order).
    """
    a, da = _delta_split(orders, "o_orderkey", IVM_ORDERS_MOD)
    b, db = _delta_split(lineitem, "l_orderkey", IVM_LINEITEM_MOD)

    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)")
           - F.col("l_discount").cast("decimal(18,4)"))
    )

    def term(o_side: DataFrame, l_side: DataFrame) -> DataFrame:
        return (
            o_side.select("o_orderkey", "o_orderpriority")
            .join(
                l_side.select(
                    F.col("l_orderkey").alias("o_orderkey"),
                    rev.alias("rev"),
                ),
                "o_orderkey",
            )
            .groupBy("o_orderpriority")
            .agg(
                F.sum("rev").alias("revenue_dec"),
                F.count("*").alias("n_items"),
            )
        )

    merged = (
        term(a, b)          # standing view (stored, not recomputed, in prod)
        .unionByName(term(da, b))
        .unionByName(term(a, db))
        .unionByName(term(da, db))
        .groupBy("o_orderpriority")
        .agg(
            F.sum("revenue_dec").alias("revenue_dec"),
            F.sum("n_items").alias("n_items"),
        )
    )
    return merged.select(
        "o_orderpriority",
        F.col("revenue_dec").cast("double").alias("revenue"),
        "n_items",
    )


ORACLE_INCREMENTAL_JOIN_VIEW = """
incremental_join_view AS (
  SELECT o_orderpriority,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (CAST(1 AS DECIMAL(18,4))
                     - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
           AS revenue,
         CAST(count(*) AS BIGINT) AS n_items
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_orderpriority
)
"""


def parts_except_all(lineitem: DataFrame) -> DataFrame:
    """Set operation (EXCEPT ALL — multiset difference): part keys of
    the 'R'-returned multiset minus the 'N'-kept multiset, each key
    surviving count_R - count_N times (when positive). Completes the
    set-op family next to EXCEPT DISTINCT (``products_only_prior``)
    and INTERSECT ALL: multiplicity is part of the contract, and the
    physical operator is a count-subtract merge, not a join. One
    shuffle per side on the key."""
    returned = lineitem.filter(F.col("l_returnflag") == "R").select(
        F.col("l_partkey").alias("part_key")
    )
    kept = lineitem.filter(F.col("l_returnflag") == "N").select(
        F.col("l_partkey").alias("part_key")
    )
    return returned.exceptAll(kept)


ORACLE_PARTS_EXCEPT_ALL = """
parts_except_all AS (
  SELECT l_partkey AS part_key FROM lineitem WHERE l_returnflag = 'R'
  EXCEPT ALL
  SELECT l_partkey AS part_key FROM lineitem WHERE l_returnflag = 'N'
)
"""


#: CDC op derivation from the fixture: each orders row is a change
#: event for its customer, ordered by (o_orderdate, o_orderkey);
#: status 'F' plays the DELETE op.
CDC_DELETE_STATUS = "F"


def cdc_apply_orders(orders: DataFrame) -> DataFrame:
    """CDC APPLY CHANGES: fold a change log into final table state —
    the lakehouse staple (Delta APPLY CHANGES INTO / Iceberg upsert).
    Each orders row is a keyed change event for its customer; the
    LATEST event per key wins (ordered by event time, key as
    tiebreak), and a latest event with the DELETE status removes the
    key from the final state entirely (not just a tombstone row).

    One window pass per key (row_number desc, single shuffle on the
    key) then a row-local filter — the same plan at any scale; at
    100 TB the change log is typically bucketed by key, making the
    window shuffle-free. Distinct from merge_upsert_orders (two-table
    MERGE) and user_state_scd2 (full history): this is log-to-LATEST
    with deletes.
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    latest = (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_orderstatus",
            "o_totalprice",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return latest.filter(
        F.col("o_orderstatus") != CDC_DELETE_STATUS
    ).select(
        "o_custkey",
        F.col("o_orderkey").alias("last_orderkey"),
        # o_orderdate is TIMESTAMP_NTZ in the fixture; session TZ is
        # pinned UTC so the cast is value-preserving
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias(
            "last_change_ms"
        ),
        F.round("o_totalprice", 2).alias("last_totalprice"),
    )


ORACLE_CDC_APPLY = f"""
cdc_ranked AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
         o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC,
                                     o_orderkey DESC) AS rn
  FROM orders
),
cdc_apply AS (
  SELECT o_custkey,
         o_orderkey AS last_orderkey,
         epoch_ms(o_orderdate) AS last_change_ms,
         round(o_totalprice, 2) AS last_totalprice
  FROM cdc_ranked
  WHERE rn = 1 AND o_orderstatus <> '{CDC_DELETE_STATUS}'
)
"""


def nation_revenue_share(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Percent-of-total window reporting (RATIO_TO_REPORT shape):
    revenue per customer nation, each nation's share of its REGION
    group's total, and its rank within the region — the canonical BI
    drill-down row. One fact hash-agg to the nation grain
    (broadcast-joined dims), then share + rank windows over the
    nation-grain table partitioned by region — the windows move a
    25-row table, never the fact. Share divides DECIMAL totals and
    rounds at the edge; per-mille integer share avoids any float in
    the rank ordering."""
    # integer cents end-to-end: the per-mille share is pure integer
    # arithmetic ((cents * 1000) DIV region_cents) — decimal/float
    # division rounds differently across engines at the last digit
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    per_nation = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_nationkey", "n_name", "n_regionkey")
        .agg(F.sum(cents).alias("cents"), F.count("*").alias("n_orders"))
    )
    w_reg = Window.partitionBy("n_regionkey")
    w_rank = Window.partitionBy("n_regionkey").orderBy(
        F.desc("cents"), "n_nationkey"
    )
    return per_nation.select(
        "n_name",
        F.col("n_regionkey").alias("region_key"),
        F.round(F.col("cents") / 100, 2).alias("revenue"),
        "n_orders",
        F.expr("(cents * 1000) DIV sum(cents) OVER "
               "(PARTITION BY n_regionkey)").alias("share_per_mille"),
        F.rank().over(w_rank).alias("region_rank"),
    )


ORACLE_NATION_REVENUE_SHARE = """
nrs_nation AS (
  SELECT n_nationkey, n_name, n_regionkey,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2, 3
),
nation_revenue_share AS (
  SELECT n_name,
         n_regionkey AS region_key,
         round(CAST(cents AS DOUBLE) / 100, 2) AS revenue,
         n_orders,
         CAST((cents * 1000) // sum(cents)
              OVER (PARTITION BY n_regionkey) AS BIGINT)
           AS share_per_mille,
         CAST(rank() OVER (PARTITION BY n_regionkey
                           ORDER BY cents DESC, n_nationkey) AS INT)
           AS region_rank
  FROM nrs_nation
)
"""


# ---------------------------------------------------------------------------
# Bloom-filter join pruning with false-positive audit
# ---------------------------------------------------------------------------

#: Bloom bit-array width (power of two so the modulo is a mask at the
#: engine level) and hash count. m=8192, k=3 targets ~1% fp at n~600
#: build keys; a deploy sizes m ~ -n*ln(p)/ln(2)^2 from the build-side
#: count.
BLOOM_M = 8192
BLOOM_K = 3


def _bloom_bits(key: F.Column) -> F.Column:
    """The K deterministic bit positions of a key: 52-bit md5 of
    'key:i' mod M — replayable verbatim in DuckDB (same md5, same
    substring, same modulo), so the whole filter is oracle-checkable."""
    return F.array(
        *[
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(key.cast("string"), F.lit(f":{i}"))),
                        1,
                        13,
                    ),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(BLOOM_M),
            )
            for i in range(BLOOM_K)
        ]
    )


def bloom_join_prune(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Join pruning via a Bloom filter — the 100 TB pattern for cutting
    a fact-table shuffle down to the rows that can possibly match a
    selective dim-side predicate, without shipping the key list.

    Build: the K bit positions of every BUILDING-segment customer key,
    distinct -> the set-bit relation (<= m rows; at scale this is the
    broadcast bit array — the relation form is its declarative
    equivalent and Catalyst broadcasts it). Probe: each distinct fact
    key passes iff all K of its positions are set (exploded positions
    x broadcast set-bits, count == K). The fact scan is then
    semi-joined against the surviving keys BEFORE any wide join — the
    shuffle carries only maybe-matching rows.

    The audit quantifies the trade: true matches (exact semi-join),
    false passes, observed fp rate among true negatives, and the
    standard (1-(1-1/m)^(kn))^k estimate — all in one summary row, so
    the hash gate pins both the filter mechanics and the arithmetic.
    Output: n_build_keys, n_set_bits, n_probe_keys, n_pass_keys,
    n_true_keys, n_false_pos, fp_rate, fp_expected.
    """
    build = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("key")
    )
    set_bits = (
        build.select(F.explode(_bloom_bits(F.col("key"))).alias("bit"))
        .distinct()
    )
    probe_keys = orders.select(
        F.col("o_custkey").alias("key")
    ).distinct()
    pass_keys = (
        probe_keys.select("key", F.explode(_bloom_bits(F.col("key"))).alias("bit"))
        .join(F.broadcast(set_bits), "bit", "leftsemi")
        .groupBy("key")
        .agg(F.count("*").alias("n_hit"))
        .filter(F.col("n_hit") == BLOOM_K)
        .select("key")
    )
    true_keys = probe_keys.join(
        build, "key", "leftsemi"
    )
    counts = (
        build.agg(F.countDistinct("key").alias("n_build_keys"))
        .crossJoin(set_bits.agg(F.count("*").alias("n_set_bits")))
        .crossJoin(probe_keys.agg(F.count("*").alias("n_probe_keys")))
        .crossJoin(pass_keys.agg(F.count("*").alias("n_pass_keys")))
        .crossJoin(true_keys.agg(F.count("*").alias("n_true_keys")))
    )
    one_bit = 1.0 - 1.0 / BLOOM_M
    return counts.select(
        "n_build_keys",
        "n_set_bits",
        "n_probe_keys",
        "n_pass_keys",
        "n_true_keys",
        (F.col("n_pass_keys") - F.col("n_true_keys")).alias("n_false_pos"),
        F.round(
            (F.col("n_pass_keys") - F.col("n_true_keys"))
            / (F.col("n_probe_keys") - F.col("n_true_keys")),
            6,
        ).alias("fp_rate"),
        F.round(
            F.pow(
                F.lit(1.0)
                - F.pow(
                    F.lit(one_bit),
                    (F.col("n_build_keys") * F.lit(BLOOM_K)).cast("double"),
                ),
                F.lit(float(BLOOM_K)),
            ),
            4,
        ).alias("fp_expected"),
    )


ORACLE_BLOOM_JOIN_PRUNE = f"""
bl_build AS (
  SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
),
bl_bits AS (
  SELECT DISTINCT
         CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || ':' || i), 1, 13))
              AS BIGINT) % {BLOOM_M} AS bit
  FROM bl_build, LATERAL unnest(range(0, {BLOOM_K})) AS t(i)
),
bl_probe AS (SELECT DISTINCT o_custkey AS key FROM orders),
bl_pass AS (
  SELECT key FROM (
    SELECT p.key,
           CAST(('0x' || substr(md5(CAST(p.key AS VARCHAR) || ':' || i), 1, 13))
                AS BIGINT) % {BLOOM_M} AS bit
    FROM bl_probe p, LATERAL unnest(range(0, {BLOOM_K})) AS t(i)
  ) pb
  WHERE EXISTS (SELECT 1 FROM bl_bits b WHERE b.bit = pb.bit)
  GROUP BY key HAVING count(*) = {BLOOM_K}
),
bl_true AS (
  SELECT key FROM bl_probe p
  WHERE EXISTS (SELECT 1 FROM bl_build b WHERE b.key = p.key)
),
bl_counts AS (
  SELECT (SELECT CAST(count(DISTINCT key) AS BIGINT) FROM bl_build) AS n_build_keys,
         (SELECT CAST(count(*) AS BIGINT) FROM bl_bits) AS n_set_bits,
         (SELECT CAST(count(*) AS BIGINT) FROM bl_probe) AS n_probe_keys,
         (SELECT CAST(count(*) AS BIGINT) FROM bl_pass) AS n_pass_keys,
         (SELECT CAST(count(*) AS BIGINT) FROM bl_true) AS n_true_keys
),
bloom_join_prune AS (
  SELECT n_build_keys, n_set_bits, n_probe_keys, n_pass_keys, n_true_keys,
         n_pass_keys - n_true_keys AS n_false_pos,
         round(CAST(n_pass_keys - n_true_keys AS DOUBLE)
               / (n_probe_keys - n_true_keys), 6) AS fp_rate,
         round(pow(1.0 - pow(CAST({1.0 - 1.0 / BLOOM_M!r} AS DOUBLE),
                             CAST(n_build_keys * {BLOOM_K} AS DOUBLE)),
                   CAST({float(BLOOM_K)!r} AS DOUBLE)), 4) AS fp_expected
  FROM bl_counts
)
"""


# ---------------------------------------------------------------------------
# table-version diff report
# ---------------------------------------------------------------------------


def table_diff_report(orders: DataFrame) -> DataFrame:
    """Snapshot diff between two table versions — the data-versioning
    audit (Delta CDF / Iceberg snapshot compare): version A = the raw
    orders table keyed by o_custkey with the EARLIEST order as state;
    version B = the CDC-folded LATEST state (``cdc_apply_orders``
    semantics, including deletes). One full-outer join on the key
    classifies every key as added / removed / unchanged / changed, and
    per-column change counts say WHICH fields drifted — the report a
    pipeline publishes alongside a new table version so consumers see
    the blast radius before switching.

    One join + one agg; both sides are key-grain states (the window
    passes that build them shuffle once on the key). Column-level
    counts are conditional sums inside the same agg — no per-column
    scans. Output: n_a, n_b, added, removed, changed, unchanged,
    chg_totalprice, chg_status, chg_priority.
    """
    wa = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    va = (
        orders.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_totalprice").alias("a_price"),
            F.col("o_orderstatus").alias("a_status"),
            F.col("o_orderpriority").alias("a_priority"),
        )
    )
    wb = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    vb = (
        orders.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .filter(F.col("o_orderstatus") != "F")  # latest-F keys "deleted"
        .select(
            "o_custkey",
            F.col("o_totalprice").alias("b_price"),
            F.col("o_orderstatus").alias("b_status"),
            F.col("o_orderpriority").alias("b_priority"),
        )
    )
    j = va.join(vb, "o_custkey", "full_outer")
    in_a = F.col("a_status").isNotNull()
    in_b = F.col("b_status").isNotNull()
    both = in_a & in_b
    changed = both & (
        (F.col("a_price") != F.col("b_price"))
        | (F.col("a_status") != F.col("b_status"))
        | (F.col("a_priority") != F.col("b_priority"))
    )
    return j.agg(
        F.sum(in_a.cast("bigint")).alias("n_a"),
        F.sum(in_b.cast("bigint")).alias("n_b"),
        F.sum((in_b & ~in_a).cast("bigint")).alias("added"),
        F.sum((in_a & ~in_b).cast("bigint")).alias("removed"),
        F.sum(changed.cast("bigint")).alias("changed"),
        F.sum((both & ~changed).cast("bigint")).alias("unchanged"),
        F.sum((both & (F.col("a_price") != F.col("b_price"))).cast("bigint")).alias(
            "chg_totalprice"
        ),
        F.sum(
            (both & (F.col("a_status") != F.col("b_status"))).cast("bigint")
        ).alias("chg_status"),
        F.sum(
            (both & (F.col("a_priority") != F.col("b_priority"))).cast(
                "bigint"
            )
        ).alias("chg_priority"),
    )


ORACLE_TABLE_DIFF = """
td_a AS (
  SELECT o_custkey, o_totalprice AS a_price, o_orderstatus AS a_status,
         o_orderpriority AS a_priority
  FROM (
    SELECT *, row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
    FROM orders
  ) WHERE rn = 1
),
td_b AS (
  SELECT o_custkey, o_totalprice AS b_price, o_orderstatus AS b_status,
         o_orderpriority AS b_priority
  FROM (
    SELECT *, row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders
  ) WHERE rn = 1 AND o_orderstatus <> 'F'
),
table_diff_report AS (
  SELECT CAST(sum(CASE WHEN a_status IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN b_status IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN b_status IS NOT NULL AND a_status IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS added,
         CAST(sum(CASE WHEN a_status IS NOT NULL AND b_status IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS removed,
         CAST(sum(CASE WHEN a_status IS NOT NULL AND b_status IS NOT NULL
                        AND (a_price <> b_price OR a_status <> b_status
                             OR a_priority <> b_priority)
                       THEN 1 ELSE 0 END) AS BIGINT) AS changed,
         CAST(sum(CASE WHEN a_status IS NOT NULL AND b_status IS NOT NULL
                        AND a_price = b_price AND a_status = b_status
                        AND a_priority = b_priority
                       THEN 1 ELSE 0 END) AS BIGINT) AS unchanged,
         CAST(sum(CASE WHEN a_status IS NOT NULL AND b_status IS NOT NULL
                        AND a_price <> b_price THEN 1 ELSE 0 END)
              AS BIGINT) AS chg_totalprice,
         CAST(sum(CASE WHEN a_status IS NOT NULL AND b_status IS NOT NULL
                        AND a_status <> b_status THEN 1 ELSE 0 END)
              AS BIGINT) AS chg_status,
         CAST(sum(CASE WHEN a_status IS NOT NULL AND b_status IS NOT NULL
                        AND a_priority <> b_priority THEN 1 ELSE 0 END)
              AS BIGINT) AS chg_priority
  FROM td_a a FULL OUTER JOIN td_b b USING (o_custkey)
)
"""


def weighted_median_price(lineitem: DataFrame) -> DataFrame:
    """Quantity-weighted median price per return flag — the weighted
    quantile no built-in percentile gives you (percentile_approx
    weighs rows equally; revenue/inventory questions weigh by
    quantity). Definition: smallest price whose running quantity mass
    reaches half the total. The cumulative window uses the ANSI
    default RANGE frame deliberately: equal prices share one
    cumulative value, so the crossing price is well-defined without
    any tiebreak column — deterministic in both engines by the SQL
    standard, not by luck. One window + one agg, partitioned by the
    group key (no global sort). Output: l_returnflag, w_median_price,
    total_qty, n_rows.
    """
    wc = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wt = Window.partitionBy("l_returnflag")
    cum = lineitem.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("l_quantity").over(wc).alias("cumw"),
        F.sum("l_quantity").over(wt).alias("totw"),
        F.count("*").over(wt).alias("n_rows"),
    )
    return (
        cum.filter(F.col("cumw") >= F.col("totw") / 2)
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("w_median_price"),
            F.round(F.first("totw"), 2).alias("total_qty"),
            F.first("n_rows").alias("n_rows"),
        )
    )


ORACLE_WEIGHTED_MEDIAN = """
wm_cum AS (
  SELECT l_returnflag, l_extendedprice,
         sum(l_quantity) OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice) AS cumw,
         sum(l_quantity) OVER (PARTITION BY l_returnflag) AS totw,
         count(*) OVER (PARTITION BY l_returnflag) AS n_rows
  FROM lineitem
),
weighted_median_price AS (
  SELECT l_returnflag,
         min(l_extendedprice) AS w_median_price,
         round(CAST(min(totw) AS DOUBLE), 2) AS total_qty,
         CAST(min(n_rows) AS BIGINT) AS n_rows
  FROM wm_cum
  WHERE cumw >= totw / 2
  GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# incremental aggregate-view maintenance WITH RETRACTIONS
# ---------------------------------------------------------------------------

#: deterministic delta carving of the orders log: every 5th orderkey
#: arrives as a late INSERT; every 7th base row is RETRACTED
#: (CDC delete). Prices go through integer cents so the additive
#: algebra is exact.
IVM_INS_MOD = 5
IVM_DEL_MOD = 7


def agg_view_maintain(orders: DataFrame) -> DataFrame:
    """Incremental maintenance of a per-customer aggregate view under
    INSERTS AND DELETES — the retraction case add-only rollups
    (``incremental_rollup``) cannot express. count/sum are
    self-maintainable (add inserts, subtract retractions); MAX is not
    under deletes — retracting the current max invalidates the stored
    value. The maintenance rule: if the retracted max is BELOW the
    stored max the group stays clean (max' = greatest(stored, ins));
    otherwise the group is marked DIRTY and ONLY those groups rescan
    the final state — at 100 TB the rescan touches the dirty keys'
    partitions, never the table (deletes hitting the group max are
    rare; the dirty fraction is the report's honesty metric).

    The query is self-proving: its output comes from base aggregates
    + delta algebra + dirty rescan, while the DuckDB oracle aggregates
    the FINAL state from scratch — hash equality proves the
    maintenance algebra lossless. Output: o_custkey, n_orders,
    total_cents, max_cents, was_dirty.
    """
    keyed = orders.select(
        "o_custkey",
        "o_orderkey",
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias(
            "cents"
        ),
    )
    is_ins = F.col("o_orderkey") % IVM_INS_MOD == 0
    is_del = (~is_ins) & (F.col("o_orderkey") % IVM_DEL_MOD == 0)
    base = keyed.filter(~is_ins)
    inserts = keyed.filter(is_ins)
    deletes = keyed.filter(is_del)
    final_state = keyed.filter(~is_del)

    def agg(df: DataFrame, p: str) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias(f"{p}n"),
            F.sum("cents").alias(f"{p}s"),
            F.max("cents").alias(f"{p}m"),
        )

    merged = (
        agg(base, "b")
        .join(agg(inserts, "i"), "o_custkey", "full_outer")
        .join(agg(deletes, "d"), "o_custkey", "left")
        .select(
            "o_custkey",
            (
                F.coalesce("bn", F.lit(0))
                + F.coalesce("in", F.lit(0))
                - F.coalesce("dn", F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce("bs", F.lit(0))
                + F.coalesce("is", F.lit(0))
                - F.coalesce("ds", F.lit(0))
            ).alias("total_cents"),
            F.col("bm"),
            F.col("im"),
            # dirty iff a retraction removed (a row tying) the stored max
            (F.col("dm").isNotNull() & (F.col("dm") == F.col("bm"))).alias(
                "was_dirty"
            ),
        )
        .filter(F.col("n_orders") > 0)
    )
    clean = merged.filter(~F.col("was_dirty")).select(
        "o_custkey",
        "n_orders",
        "total_cents",
        F.greatest(
            F.coalesce("bm", F.lit(-(1 << 62))),
            F.coalesce("im", F.lit(-(1 << 62))),
        ).alias("max_cents"),
        "was_dirty",
    )
    dirty_keys = merged.filter(F.col("was_dirty")).select(
        "o_custkey", "n_orders", "total_cents", "was_dirty"
    )
    rescanned = dirty_keys.join(final_state, "o_custkey").groupBy(
        "o_custkey", "n_orders", "total_cents", "was_dirty"
    ).agg(F.max("cents").alias("max_cents")).select(
        "o_custkey", "n_orders", "total_cents", "max_cents", "was_dirty"
    )
    return clean.unionByName(rescanned)


ORACLE_AGG_VIEW_MAINTAIN = f"""
ivm_keyed AS (
  SELECT o_custkey, o_orderkey,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderkey % {IVM_INS_MOD} = 0 AS is_ins,
         o_orderkey % {IVM_INS_MOD} <> 0
           AND o_orderkey % {IVM_DEL_MOD} = 0 AS is_del
  FROM orders
),
-- the oracle aggregates the FINAL state from scratch; only the dirty
-- flag replays the maintenance-side rule (it is a property of the
-- delta, not of the final state)
ivm_dirty AS (
  SELECT b.o_custkey,
         max(CASE WHEN is_del THEN cents END) IS NOT NULL
           AND max(CASE WHEN is_del THEN cents END) = max(cents)
           AS was_dirty
  FROM ivm_keyed b WHERE NOT is_ins
  GROUP BY 1
),
agg_view_maintain AS (
  SELECT f.o_custkey,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(f.cents) AS BIGINT) AS total_cents,
         CAST(max(f.cents) AS BIGINT) AS max_cents,
         COALESCE(max(d.was_dirty), FALSE) AS was_dirty
  FROM ivm_keyed f
  LEFT JOIN ivm_dirty d ON f.o_custkey = d.o_custkey
  WHERE NOT f.is_del
  GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# materialized-view rollup rewrite (self-proving)
# ---------------------------------------------------------------------------


def mv_rollup_rewrite(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Aggregate-rollup query rewrite, proven correct in-band: build
    the (year, month, brand) revenue MATERIALIZED VIEW once, answer
    the coarser (year, brand) query by RE-AGGREGATING THE MV (the
    classic MV-rewrite rule: SUM and COUNT roll up along any grouping
    lattice edge), and emit the base-table answer beside it with an
    exact-equality flag — the output is its own proof that the
    rewrite is lossless.

    The MV is ~|years × months × brands| rows, so the rewritten query
    aggregates thousands of rows instead of the fact table — at
    100 TB that is the entire point of the technique; the base-path
    column exists here only as the self-check (a real deployment
    would not run it). Revenue is exact integer cents, so equality is
    bit-for-bit, fold-order-free.

    Output per (year, brand): o_year, brand, revenue_mv,
    revenue_base, n_mv_cells, rewrite_ok.
    """
    rows = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        lineitem.l_partkey == F.col("p_partkey"),
    ).select(
        F.year(F.to_date("l_shipdate")).alias("o_year"),
        F.month(F.to_date("l_shipdate")).alias("o_month"),
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
    )
    mv = rows.groupBy("o_year", "o_month", "brand").agg(
        F.sum("cents").alias("rev"), F.count("*").alias("cnt")
    )
    from_mv = mv.groupBy("o_year", "brand").agg(
        F.sum("rev").alias("revenue_mv"),
        F.count("*").alias("n_mv_cells"),
    )
    from_base = rows.groupBy("o_year", "brand").agg(
        F.sum("cents").alias("revenue_base")
    )
    return (
        from_mv.join(from_base, ["o_year", "brand"])
        .select(
            "o_year",
            "brand",
            "revenue_mv",
            "revenue_base",
            "n_mv_cells",
            (F.col("revenue_mv") == F.col("revenue_base"))
            .cast("int")
            .alias("rewrite_ok"),
        )
    )


ORACLE_MV_REWRITE = """
mvr_rows AS (
  SELECT date_part('year', CAST(l_shipdate AS DATE)) AS o_year,
         date_part('month', CAST(l_shipdate AS DATE)) AS o_month,
         p.p_brand AS brand,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
mvr_mv AS (
  SELECT o_year, o_month, brand,
         CAST(sum(cents) AS BIGINT) AS rev,
         CAST(count(*) AS BIGINT) AS cnt
  FROM mvr_rows GROUP BY 1, 2, 3
),
mvr_from_mv AS (
  SELECT o_year, brand,
         CAST(sum(rev) AS BIGINT) AS revenue_mv,
         CAST(count(*) AS BIGINT) AS n_mv_cells
  FROM mvr_mv GROUP BY 1, 2
),
mvr_from_base AS (
  SELECT o_year, brand, CAST(sum(cents) AS BIGINT) AS revenue_base
  FROM mvr_rows GROUP BY 1, 2
),
mv_rollup_rewrite AS (
  SELECT m.o_year, m.brand, m.revenue_mv, b.revenue_base,
         m.n_mv_cells,
         CAST(CASE WHEN m.revenue_mv = b.revenue_base
                   THEN 1 ELSE 0 END AS INT) AS rewrite_ok
  FROM mvr_from_mv m
  JOIN mvr_from_base b
    ON m.o_year = b.o_year AND m.brand = b.brand
)
"""
