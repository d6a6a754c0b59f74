"""Fixture → Instacart role-mapping logical views (FIXTURES.md §B).

The reference's operators are defined over four Instacart tables
(orders / order_products / products / users). The driver's fixtures are
TPC-H-ish; this module builds the Instacart-shaped *logical* tables from
them, once, so every downstream operator reads the same views the
reference's pipeline reads:

- ``order_products``  <- lineitem  (orderID, productID, cart_order, reordered)
- ``orders``          <- orders    (+ eval_set encode, per-user order_number
                                    window, dow/hod extraction, days_since lag)
- ``products``        <- part      (productID, aisle_id, dep_id)

Each view has a matching DuckDB CTE in ``ORACLE_BASE_CTES`` kept in sync
by the oracle differential tests — the Spark plan and the SQL text are
two renderings of the same logical definition.

Scale notes: the views are pure projections/window functions — no
shuffles except the per-user window (hash partition by userID), which
any downstream per-user aggregation reuses. eval_set/dow/hod derivations
are codegen'd expressions evaluated inside the scan stage.

Cited reference lines: ingest F.py:16-30, eval_set encode F.py:26,
days_since default F.py:26, name-column drop F.py:30.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators._staging import stage as _stage
from ..sources.loaders import load_table

EVAL_PRIOR, EVAL_TRAIN, EVAL_TEST = 0, 1, 2

# o_orderstatus -> eval_set role: P(ending)->prior, O(pen)->train, F(inal)->test.
_STATUS_TO_EVAL = {"P": EVAL_PRIOR, "O": EVAL_TRAIN, "F": EVAL_TEST}


@dataclass(frozen=True)
class InstacartTables:
    """The Instacart-shaped logical views plus their eval_set splits."""

    #: S1-S6: enum-encoded eval_set, order_number window, dow/hod
    #: extraction, days_since lag + default
    orders: DataFrame
    #: S1-S3: typed projection + derived reordered flag
    order_products: DataFrame
    products: DataFrame

    @property
    def prior_orders(self) -> DataFrame:
        # P2 (F.py:35): eval_set == 0 split.
        return self.orders.filter(F.col("eval_set") == EVAL_PRIOR)

    @property
    def train_orders(self) -> DataFrame:
        return self.orders.filter(F.col("eval_set") == EVAL_TRAIN)

    @property
    def test_orders(self) -> DataFrame:
        return self.orders.filter(F.col("eval_set") == EVAL_TEST)

    @property
    def prior_products(self) -> DataFrame:
        """J1 (F.py:46-53): order_products restricted to prior orders.

        The reference collects order IDs to the driver and closes over the
        list; distributed form is a semi-join, broadcast by AQE when the
        key side is small.
        """
        return self.order_products.join(
            self.prior_orders.select("orderID"), "orderID", "leftsemi"
        )

    @property
    def train_products(self) -> DataFrame:
        return self.order_products.join(
            self.train_orders.select("orderID"), "orderID", "leftsemi"
        )


def _orders_view(raw: DataFrame) -> DataFrame:
    """orders fixture -> Instacart orders (F.py:26 semantics).

    order_number is the per-user order sequence (row_number over order
    date, orderkey tiebreak — deterministic); days_since is the
    calendar-day gap to the user's previous order, 0 for the first
    (F.py:26 ""->0 rule).
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    eval_col = (
        F.when(F.col("o_orderstatus") == "P", F.lit(EVAL_PRIOR))
        .when(F.col("o_orderstatus") == "O", F.lit(EVAL_TRAIN))
        .otherwise(F.lit(EVAL_TEST))
    )
    return raw.select(
        F.col("o_orderkey").alias("orderID"),
        F.col("o_custkey").alias("userID"),
        eval_col.alias("eval_set"),
        F.row_number().over(w).alias("order_number"),
        # Spark dayofweek is 1..7 (Sun=1); Instacart order_dow is 0..6 (Sun=0).
        (F.dayofweek("o_orderdate") - F.lit(1)).alias("order_dow"),
        F.hour("o_orderdate").alias("order_hod"),
        F.coalesce(
            F.datediff(
                F.to_date("o_orderdate"),
                F.to_date(F.lag("o_orderdate").over(w)),
            ),
            F.lit(0),
        ).alias("days_since"),
    )


def _order_products_view(lineitem: DataFrame) -> DataFrame:
    """lineitem -> order_products (FIXTURES.md §B role mapping)."""
    return lineitem.select(
        F.col("l_orderkey").alias("orderID"),
        F.col("l_partkey").alias("productID"),
        F.col("l_linenumber").alias("cart_order"),
        (F.col("l_returnflag") == "R").cast("int").alias("reordered"),
    )


def _products_view(part: DataFrame) -> DataFrame:
    """part -> products dim; name column pruned at scan like F.py:30 (P1)."""
    return part.select(
        F.col("p_partkey").alias("productID"),
        F.col("p_brand").alias("aisle_id"),
        F.col("p_type").alias("dep_id"),
    )


def instacart_tables(
    spark: SparkSession, sf_dir: str, persist: bool = True
) -> InstacartTables:
    """Build (or reuse) the Instacart-shaped views.

    The orders view carries two window functions (order_number,
    days_since lag); composed pipelines reference it up to 9 times and
    Catalyst does not dedupe common subplans — unstaged, the candidate
    pipeline recomputes the per-user window shuffle 4x. Persisting the
    view (MEMORY_AND_DISK — spills, never OOMs) makes every reference an
    in-memory scan of one computation. orders is the dimension-sized
    table (~1/4 of lineitem rows, 7 narrow columns), so this is the
    standard "stage the enriched dim" call a 100 TB deployment would
    make (or materialize to parquet in an ETL step — same idea, this is
    the in-session form). The fact table (order_products) is never
    cached. With ``persist`` the tables are staged per (session,
    sf_dir), so every query in a session shares ONE persisted orders
    view instead of stacking duplicate cache entries.
    """
    if persist:
        return _stage(
            "instacart_tables", spark,
            lambda: _build_tables(spark, sf_dir, True), sf_dir,
            checkpoint=False,
        )
    return _build_tables(spark, sf_dir, False)


def _build_tables(
    spark: SparkSession, sf_dir: str, persist: bool
) -> InstacartTables:
    orders = _orders_view(load_table(spark, sf_dir, "orders"))
    if persist:
        from pyspark import StorageLevel

        orders = orders.persist(StorageLevel.MEMORY_AND_DISK)
    return InstacartTables(
        orders=orders,
        order_products=_order_products_view(
            load_table(spark, sf_dir, "lineitem")
        ),
        products=_products_view(load_table(spark, sf_dir, "part")),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle renderings of the same views. Every oracle query is
# "WITH <ORACLE_BASE_CTES> SELECT ...". Casts pin types to the Spark
# schema (row_number/date_diff/dayofweek are BIGINT in DuckDB, INT in
# Spark).
# ---------------------------------------------------------------------------
ORACLE_BASE_CTES = """
iorders AS (
  SELECT o_orderkey AS orderID,
         o_custkey  AS userID,
         CASE o_orderstatus WHEN 'P' THEN 0 WHEN 'O' THEN 1 ELSE 2 END AS eval_set,
         CAST(row_number() OVER w AS INT) AS order_number,
         CAST(dayofweek(o_orderdate) AS INT) AS order_dow,
         CAST(hour(o_orderdate) AS INT) AS order_hod,
         CAST(coalesce(date_diff('day',
                                 CAST(lag(o_orderdate) OVER w AS DATE),
                                 CAST(o_orderdate AS DATE)), 0) AS INT)
           AS days_since
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
iorder_products AS (
  SELECT l_orderkey   AS orderID,
         l_partkey    AS productID,
         l_linenumber AS cart_order,
         CAST(l_returnflag = 'R' AS INT) AS reordered
  FROM lineitem
),
iproducts AS (
  SELECT p_partkey AS productID,
         p_brand   AS aisle_id,
         p_type    AS dep_id
  FROM part
),
iprior_orders AS (SELECT * FROM iorders WHERE eval_set = 0),
itrain_orders AS (SELECT * FROM iorders WHERE eval_set = 1),
itest_orders  AS (SELECT * FROM iorders WHERE eval_set = 2),
iprior_products AS (
  SELECT op.* FROM iorder_products op
  WHERE EXISTS (SELECT 1 FROM iprior_orders o WHERE o.orderID = op.orderID)
),
itrain_products AS (
  SELECT op.* FROM iorder_products op
  WHERE EXISTS (SELECT 1 FROM itrain_orders o WHERE o.orderID = op.orderID)
)
"""
