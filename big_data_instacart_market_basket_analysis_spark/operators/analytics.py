"""TPC-H-shaped analytics queries completing the classic plan-shape family.

With the round-3 additions at the bottom (Q2/Q6/Q8/Q12 shapes), all 22
classic plan shapes are covered between this module and
``operators/relational.py`` (which has Q1/Q3/Q5/Q10/Q14/Q15/
Q16/Q17/Q18/Q21/Q22 shapes). Each query is a Catalyst-native DataFrame
plan with a colocated DuckDB oracle CTE; money math is DECIMAL-exact
end-to-end and cast to double only at the output edge (the repo's float
rule), so the order-insensitive value hash is stable across engines.

Shapes and their scale story:

- Q4  (``late_order_priorities``): EXISTS with a cross-table predicate
  -> left-semi hash join on the order key; the 3-month order window is
  pushed to the orders scan, so the semi-join probe side is tiny.
- Q7  (``bloc_trade_volume``): dual-aliased dim join (nation twice)
  feeding a multi-fact join; nation is broadcast on both arms, the
  bloc filter prunes supplier/customer BEFORE the fact join.
- Q9  (``nation_part_profit``): 5-way join with a substring part
  filter; part/supplier/nation broadcast, single hash-agg on
  (nation, year).
- Q11 (``important_parts``): grouped value + scalar-total comparison.
  The threshold is scale-free (value > 2x the mean part value) and the
  comparison is integer-decimal cross-multiplied (val*n > 2*total) so
  no division or float enters the predicate.
- Q13 (``customer_order_distribution``): LEFT join with a compound
  join condition, then a double aggregation (per-customer count ->
  count histogram). Customers with zero orders survive via the outer
  join — the classic distribution-including-zeros trap.
- Q19 (``disjunctive_revenue``): OR-of-ANDs multi-column predicate.
  The part-side disjuncts are explicitly pre-applied to the part scan
  (each disjunct constrains the part columns, so the OR of part-only
  conjuncts is implied) — constraint propagation Catalyst does not
  derive on its own; the full predicate still applies post-join.
- Q20 (``excess_part_suppliers``): nested IN decomposed into
  HAVING-agg -> distinct keys -> left-semi join; the aggregate runs
  on the (suppkey, partkey) grain BEFORE any supplier-side work, so
  state is bounded by the filtered part-lines only.

All seven would survive a 100x scale-up: every dim side is broadcast
or semi-filtered before fact contact, every aggregate is a single
hash-agg on bounded key domains, and no predicate needs a sort or a
window over the full fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ._staging import cut as _cut

_DEC = "decimal(18,4)"


def _rev() -> F.Column:
    """Exact line revenue: extendedprice * (1 - discount) in DECIMAL."""
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    one = F.lit(1).cast(_DEC)
    return price * (one - disc)


# --------------------------------------------------------------------------
# Q4 shape: EXISTS -> left-semi join with cross-table predicate
# --------------------------------------------------------------------------

LATE_WINDOW_LO = "1996-07-01"
LATE_WINDOW_HI = "1996-10-01"
LATE_GRACE_DAYS = 30


def late_order_priorities(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H-Q4-shaped: orders in a 3-month window having at least one
    line shipped more than 30 days after the order date, counted per
    priority. The EXISTS becomes a LEFT SEMI hash join whose condition
    references both sides (l_shipdate > o_orderdate + 30d) — Spark
    keeps the equi-part (orderkey) as the join key and evaluates the
    date predicate as a join filter, so no fan-out ever materializes."""
    windowed = orders.filter(
        (F.col("o_orderdate") >= F.lit(LATE_WINDOW_LO))
        & (F.col("o_orderdate") < F.lit(LATE_WINDOW_HI))
    )
    late = (
        F.col("l_orderkey") == F.col("o_orderkey")
    ) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_GRACE_DAYS} DAYS")
    )
    return (
        windowed.join(lineitem.select("l_orderkey", "l_shipdate"), late, "leftsemi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


ORACLE_LATE_ORDER_PRIORITIES = f"""
late_order_priorities AS (
  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
  FROM orders o
  WHERE o_orderdate >= '{LATE_WINDOW_LO}' AND o_orderdate < '{LATE_WINDOW_HI}'
    AND EXISTS (SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate
                                     + INTERVAL {LATE_GRACE_DAYS} DAY)
  GROUP BY o_orderpriority
)
"""


# --------------------------------------------------------------------------
# Q7 shape: dual-aliased nation dim, cross-bloc trade volume per year
# --------------------------------------------------------------------------

BLOC_MOD = 5
BLOC_A = 1
BLOC_B = 2
TRADE_LO = "1996-01-01"
TRADE_HI = "1998-01-01"


def bloc_trade_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H-Q7-shaped: shipping volume between two trade blocs
    (nation groups ``n_nationkey % 5``) per ship year, both directions.
    The nation dim is joined TWICE under different aliases (supplier
    side and customer side) — the dual-alias dim pattern. Bloc
    membership filters supplier and customer down before either
    touches a fact table, so the two fact joins only carry rows that
    can still qualify; nation is broadcast on both arms."""
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"),
        (F.col("n_nationkey") % BLOC_MOD).alias("supp_bloc"),
    ).filter(F.col("supp_bloc").isin(BLOC_A, BLOC_B))
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"),
        (F.col("n_nationkey") % BLOC_MOD).alias("cust_bloc"),
    ).filter(F.col("cust_bloc").isin(BLOC_A, BLOC_B))

    supp = supplier.join(
        F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key")
    ).select("s_suppkey", "supp_bloc")
    cust = customer.join(
        F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key")
    ).select("c_custkey", "cust_bloc")

    lines = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(TRADE_LO))
        & (F.col("l_shipdate") < F.lit(TRADE_HI))
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")

    cross = (
        lines.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_bloc") == BLOC_A) & (F.col("cust_bloc") == BLOC_B))
            | ((F.col("supp_bloc") == BLOC_B) & (F.col("cust_bloc") == BLOC_A))
        )
    )
    return (
        cross.groupBy(
            F.col("supp_bloc").cast("int").alias("supp_bloc"),
            F.col("cust_bloc").cast("int").alias("cust_bloc"),
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.round(F.sum(_rev()).cast("double"), 2).alias("volume"),
            F.count("*").alias("n_lines"),
        )
    )


ORACLE_BLOC_TRADE_VOLUME = f"""
btv AS (
  SELECT CAST(ns.n_nationkey % {BLOC_MOD} AS INTEGER) AS supp_bloc,
         CAST(nc.n_nationkey % {BLOC_MOD} AS INTEGER) AS cust_bloc,
         CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS ship_year,
         CAST(l_extendedprice AS DECIMAL(18,4))
           * (CAST(1 AS DECIMAL(18,4))
              - CAST(l_discount AS DECIMAL(18,4))) AS rev
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  WHERE l_shipdate >= '{TRADE_LO}' AND l_shipdate < '{TRADE_HI}'
    AND ((ns.n_nationkey % {BLOC_MOD} = {BLOC_A}
          AND nc.n_nationkey % {BLOC_MOD} = {BLOC_B})
      OR (ns.n_nationkey % {BLOC_MOD} = {BLOC_B}
          AND nc.n_nationkey % {BLOC_MOD} = {BLOC_A}))
),
bloc_trade_volume AS (
  SELECT supp_bloc, cust_bloc, ship_year,
         round(CAST(sum(rev) AS DOUBLE), 2) AS volume,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM btv GROUP BY supp_bloc, cust_bloc, ship_year
)
"""


# --------------------------------------------------------------------------
# Q9 shape: substring part filter, 5-way join, (nation, year) profit
# --------------------------------------------------------------------------

PROFIT_PART_TOKEN = "red"


def nation_part_profit(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    orders: DataFrame,
) -> DataFrame:
    """TPC-H-Q9-shaped: profit on 'red'-named parts per supplier
    nation per order year. Profit = revenue - retail cost of the
    shipped quantity, entirely in DECIMAL (the subtraction of two
    scale-8 decimals is exact; float partials would drift with
    aggregation order). part/supplier/nation broadcast; orders joins
    on the order key only to supply the year."""
    cost = F.col("p_retailprice").cast(_DEC) * F.col("l_quantity").cast(_DEC)
    red_parts = part.filter(
        F.col("p_name").contains(PROFIT_PART_TOKEN)
    ).select("p_partkey", "p_retailprice")
    joined = (
        lineitem.join(F.broadcast(red_parts),
                      F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        joined.groupBy(
            F.col("n_name"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.round(F.sum(_rev() - cost).cast("double"), 2).alias("profit"),
            F.count("*").alias("n_lines"),
        )
    )


ORACLE_NATION_PART_PROFIT = f"""
npp AS (
  SELECT n_name,
         CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,4))
           * (CAST(1 AS DECIMAL(18,4))
              - CAST(l_discount AS DECIMAL(18,4)))
           - CAST(p_retailprice AS DECIMAL(18,4))
             * CAST(l_quantity AS DECIMAL(18,4)) AS amount
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN orders   ON l_orderkey = o_orderkey
  WHERE p_name LIKE '%{PROFIT_PART_TOKEN}%'
),
nation_part_profit AS (
  SELECT n_name, o_year,
         round(CAST(sum(amount) AS DOUBLE), 2) AS profit,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM npp GROUP BY n_name, o_year
)
"""


# --------------------------------------------------------------------------
# Q11 shape: grouped value vs scalar total, scale-free threshold
# --------------------------------------------------------------------------

IMPORTANT_BLOC = 2
IMPORTANT_MEAN_MULT = 2


def important_parts(
    lineitem: DataFrame, supplier: DataFrame
) -> DataFrame:
    """TPC-H-Q11-shaped: parts whose traded value (via bloc-2
    suppliers) exceeds ``IMPORTANT_MEAN_MULT``x the mean part value.
    The threshold is scale-free (TPC-H's own fixed fraction must be
    rescaled per SF; a mean multiple need not be) and the comparison
    is cross-multiplied in exact types — ``val * n_parts > 2 *
    total`` — so no division and no float enters the predicate. The
    1-row (total, n_parts) aggregate is broadcast onto the grouped
    values; the fact table is scanned once."""
    bloc_supp = supplier.filter(
        F.col("s_nationkey") % BLOC_MOD == IMPORTANT_BLOC
    ).select("s_suppkey")
    per_part = (
        lineitem.join(F.broadcast(bloc_supp),
                      F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_rev()).alias("val"))
    )
    totals = per_part.agg(
        F.sum("val").alias("total"), F.count("*").alias("n_parts")
    )
    return (
        per_part.join(F.broadcast(totals))
        .filter(
            F.col("val") * F.col("n_parts")
            > F.lit(IMPORTANT_MEAN_MULT) * F.col("total")
        )
        .select(
            "l_partkey",
            F.round(F.col("val").cast("double"), 2).alias("part_value"),
        )
    )


ORACLE_IMPORTANT_PARTS = f"""
ip_val AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,4))
             * (CAST(1 AS DECIMAL(18,4))
                - CAST(l_discount AS DECIMAL(18,4)))) AS val
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey % {BLOC_MOD} = {IMPORTANT_BLOC}
  GROUP BY l_partkey
),
important_parts AS (
  SELECT l_partkey, round(CAST(val AS DOUBLE), 2) AS part_value
  FROM ip_val
  WHERE val * (SELECT count(*) FROM ip_val)
        > {IMPORTANT_MEAN_MULT} * (SELECT sum(val) FROM ip_val)
)
"""


# --------------------------------------------------------------------------
# Q13 shape: outer join with compound condition, count histogram
# --------------------------------------------------------------------------

DIST_EXCLUDED_PRIORITY = "1-URGENT"


def customer_order_distribution(
    customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """TPC-H-Q13-shaped: distribution of non-urgent order counts per
    customer, INCLUDING zero-order customers. The priority exclusion
    must live in the JOIN CONDITION, not a WHERE clause — a post-join
    filter would silently drop the zero-order customers the LEFT join
    exists to preserve. Double aggregation: per-customer count (key =
    c_custkey, perfectly uniform), then the count histogram (tiny key
    domain), both single hash-aggs."""
    cond = (F.col("c_custkey") == F.col("o_custkey")) & (
        F.col("o_orderpriority") != DIST_EXCLUDED_PRIORITY
    )
    per_cust = (
        customer.select("c_custkey")
        .join(orders.select("o_custkey", "o_orderkey", "o_orderpriority"),
              cond, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("n_custs"))


ORACLE_CUSTOMER_ORDER_DISTRIBUTION = f"""
cod_per_cust AS (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey
   AND o_orderpriority <> '{DIST_EXCLUDED_PRIORITY}'
  GROUP BY c_custkey
),
customer_order_distribution AS (
  SELECT c_count, CAST(count(*) AS BIGINT) AS n_custs
  FROM cod_per_cust GROUP BY c_count
)
"""


# --------------------------------------------------------------------------
# Q19 shape: OR-of-ANDs disjunctive predicate with derived pushdown
# --------------------------------------------------------------------------

#: (brand, size_lo, size_hi, qty_lo, qty_hi) disjuncts.
DISJUNCTS = (
    ("Brand#1", 1, 10, 1, 20),
    ("Brand#13", 5, 25, 10, 35),
    ("Brand#25", 20, 50, 25, 50),
)


def disjunctive_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H-Q19-shaped: revenue from lines matching any of three
    (brand, size range, quantity range) disjuncts. Every disjunct
    constrains part columns, so the OR of the part-only conjuncts is
    a valid derived filter on the part scan — applied explicitly
    (Catalyst does not infer disjunctive per-side implications), which
    shrinks the broadcast build side before the join; the full
    cross-table OR still applies after."""
    part_side = None
    full = None
    for brand, slo, shi, qlo, qhi in DISJUNCTS:
        p = (F.col("p_brand") == brand) & F.col("p_size").between(slo, shi)
        f = p & F.col("l_quantity").between(qlo, qhi)
        part_side = p if part_side is None else (part_side | p)
        full = f if full is None else (full | f)
    pruned = part.select("p_partkey", "p_brand", "p_size").filter(part_side)
    matched = (
        lineitem.join(F.broadcast(pruned),
                      F.col("l_partkey") == F.col("p_partkey"))
        .filter(full)
    )
    return matched.agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum(_rev()).cast("double"), 2).alias("disc_revenue"),
    )


def _disjunct_sql() -> str:
    parts = [
        f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi}"
        f" AND l_quantity BETWEEN {qlo} AND {qhi})"
        for b, slo, shi, qlo, qhi in DISJUNCTS
    ]
    return "\n     OR ".join(parts)


ORACLE_DISJUNCTIVE_REVENUE = f"""
disjunctive_revenue AS (
  SELECT CAST(count(*) AS BIGINT) AS n_lines,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4))
                           - CAST(l_discount AS DECIMAL(18,4))))
                    AS DOUBLE), 2) AS disc_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE {_disjunct_sql()}
)
"""


# --------------------------------------------------------------------------
# Q20 shape: nested IN -> HAVING agg -> distinct keys -> left-semi join
# --------------------------------------------------------------------------

EXCESS_PART_TOKEN = "red"
EXCESS_QTY_THRESHOLD = 50


def excess_part_suppliers(
    supplier: DataFrame, lineitem: DataFrame, part: DataFrame
) -> DataFrame:
    """TPC-H-Q20-shaped: suppliers who shipped more than 50 units of
    any single 'red'-named part. The nested IN decomposes into: part
    filter (broadcast) -> (suppkey, partkey) hash-agg with HAVING ->
    distinct supplier keys -> LEFT SEMI join against the supplier dim.
    The aggregate's key grain bounds state by the filtered lines; the
    supplier table is only touched by the final semi-join probe."""
    red_parts = part.filter(
        F.col("p_name").contains(EXCESS_PART_TOKEN)
    ).select("p_partkey")
    heavy_suppliers = (
        lineitem.join(F.broadcast(red_parts),
                      F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > EXCESS_QTY_THRESHOLD)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(heavy_suppliers,
                      F.col("s_suppkey") == F.col("l_suppkey"), "leftsemi")
        .select("s_suppkey", "s_name")
    )


ORACLE_EXCESS_PART_SUPPLIERS = f"""
excess_part_suppliers AS (
  SELECT s_suppkey, s_name
  FROM supplier
  WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE '%{EXCESS_PART_TOKEN}%'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > {EXCESS_QTY_THRESHOLD})
)
"""


# --------------------------------------------------------------------------
# Q6 shape: pure scan + predicate + single agg — the pushdown showcase
# --------------------------------------------------------------------------

FORECAST_LO = "1996-01-01"
FORECAST_HI = "1997-01-01"
FORECAST_DISC_LO = 0.05
FORECAST_DISC_HI = 0.07
FORECAST_QTY_MAX = 24


def forecast_revenue_change(lineitem: DataFrame) -> DataFrame:
    """TPC-H-Q6-shaped: revenue that would be recovered by eliminating
    small discounts on low-quantity lines in one year — a bare scan
    with three conjunctive predicates and one sum. This is the
    pushdown showcase: every predicate reaches the parquet scan
    (PushedFilters carries the date, discount, and quantity bounds —
    plan-pinned), so at 100 TB row groups outside the year never
    leave disk. Money math in DECIMAL; one global agg, no shuffle
    beyond the final 1-row combine."""
    f = (
        (F.col("l_shipdate") >= F.lit(FORECAST_LO))
        & (F.col("l_shipdate") < F.lit(FORECAST_HI))
        & (F.col("l_discount") >= FORECAST_DISC_LO)
        & (F.col("l_discount") <= FORECAST_DISC_HI)
        & (F.col("l_quantity") < FORECAST_QTY_MAX)
    )
    rev = F.col("l_extendedprice").cast(_DEC) * F.col(
        "l_discount"
    ).cast(_DEC)
    return lineitem.filter(f).agg(
        F.sum(rev).cast("double").alias("revenue_delta"),
        F.count("*").alias("n_lines"),
    )


ORACLE_FORECAST_REVENUE = f"""
forecast_revenue_change AS (
  SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                  * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
           AS revenue_delta,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem
  WHERE l_shipdate >= '{FORECAST_LO}' AND l_shipdate < '{FORECAST_HI}'
    AND l_discount >= {FORECAST_DISC_LO}
    AND l_discount <= {FORECAST_DISC_HI}
    AND l_quantity < {FORECAST_QTY_MAX}
)
"""


# --------------------------------------------------------------------------
# Q2 shape: correlated scalar-MIN subquery over a region-filtered chain
# --------------------------------------------------------------------------

MINCOST_REGION = "EUROPE"
MINCOST_SIZE_LO = 40


def min_cost_supplier(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H-Q2-shaped (adapted: the fixture has no partsupp, so the
    part-supplier cost table derives from lineitem): for each large
    part, the supplier(s) in one region offering the MINIMUM cost —
    the correlated scalar-MIN subquery. Decorrelated the way Catalyst
    plans Q2: the per-part minimum is a pre-aggregation over the
    region-filtered cost table joined back on (partkey, cost) —
    never a per-row subquery probe. Cost = min(l_extendedprice), a
    pure MIN (no division — decimal-exact tie semantics; ties emit
    both suppliers, matching the reference query's behavior).

    Scale: region/nation broadcast onto supplier, the filtered
    supplier dim broadcasts onto the fact, the (part, supp) agg and
    the per-part min reuse one partitioning, and the large-part
    filter prunes before any join."""
    regional_supp = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(
                        region.filter(F.col("r_name") == MINCOST_REGION)
                    ),
                    nation.n_regionkey == region.r_regionkey,
                ).select("n_nationkey", "n_name")
            ),
            supplier.s_nationkey == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    big_parts = part.filter(F.col("p_size") >= MINCOST_SIZE_LO).select(
        "p_partkey"
    )
    costs = (
        lineitem.join(
            F.broadcast(big_parts),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .join(
            F.broadcast(regional_supp),
            lineitem.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("p_partkey", "s_suppkey", "s_name", "n_name")
        .agg(
            F.min(F.col("l_extendedprice").cast(_DEC)).alias("cost")
        )
    )
    part_min = costs.groupBy("p_partkey").agg(
        F.min("cost").alias("min_cost")
    )
    return (
        costs.join(part_min, "p_partkey")
        .filter(F.col("cost") == F.col("min_cost"))
        .select(
            "p_partkey",
            "s_name",
            "n_name",
            F.col("cost").cast("double").alias("min_cost"),
        )
    )


ORACLE_MIN_COST_SUPPLIER = f"""
mcs_supp AS (
  SELECT s_suppkey, s_name, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '{MINCOST_REGION}'
),
mcs_costs AS (
  SELECT l_partkey AS p_partkey, s_suppkey, s_name, n_name,
         min(CAST(l_extendedprice AS DECIMAL(18,4))) AS cost
  FROM lineitem
  JOIN (SELECT p_partkey FROM part
        WHERE p_size >= {MINCOST_SIZE_LO}) bp
    ON l_partkey = bp.p_partkey
  JOIN mcs_supp ON l_suppkey = s_suppkey
  GROUP BY 1, 2, 3, 4
),
min_cost_supplier AS (
  SELECT c.p_partkey, c.s_name, c.n_name,
         CAST(c.cost AS DOUBLE) AS min_cost
  FROM mcs_costs c
  WHERE c.cost = (SELECT min(cost) FROM mcs_costs m
                  WHERE m.p_partkey = c.p_partkey)
)
"""


# --------------------------------------------------------------------------
# Q8 shape: national market share within a region, per year
# --------------------------------------------------------------------------

SHARE_REGION = "ASIA"
SHARE_NATION_KEY = 3


def nation_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H-Q8-shaped: one supplier-nation's share of all revenue
    sold into a region's market, per order year — the conditional-
    numerator / total-denominator ratio over a deep join chain
    (lineitem -> orders -> customer -> nation -> region on the market
    side; lineitem -> supplier -> nation on the share side). Both
    sums come out of ONE hash-agg (the numerator is a CASE inside the
    same pass); dims broadcast, the region filter prunes customers
    before fact contact, and the year comes from the order date, so
    the fact table shuffles once on nothing but the final tiny
    (year) grain."""
    market_cust = (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(
                        region.filter(F.col("r_name") == SHARE_REGION)
                    ),
                    nation.n_regionkey == region.r_regionkey,
                ).select(F.col("n_nationkey").alias("cn_key"))
            ),
            customer.c_nationkey == F.col("cn_key"),
        )
        .select("c_custkey")
    )
    rev = _rev().alias("rev")
    is_target = (F.col("s_nationkey") == SHARE_NATION_KEY).cast("int")
    joined = (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            lineitem.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(market_cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            lineitem.l_suppkey == F.col("s_suppkey"),
        )
        .select(
            F.year("o_orderdate").alias("o_year"),
            rev,
            is_target.alias("is_target"),
        )
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("is_target") == 1, F.col("rev")).otherwise(
                    F.lit(0).cast(_DEC)
                )
            ).alias("nation_rev"),
            F.sum("rev").alias("total_rev"),
        )
        .select(
            "o_year",
            F.col("nation_rev").cast("double").alias("nation_rev"),
            F.col("total_rev").cast("double").alias("total_rev"),
            F.round(
                F.col("nation_rev").cast("double")
                / F.col("total_rev").cast("double"),
                6,
            ).alias("mkt_share"),
        )
    )


ORACLE_NATION_MARKET_SHARE = f"""
nms AS (
  SELECT year(o_orderdate) AS o_year,
         sum(CASE WHEN s_nationkey = {SHARE_NATION_KEY}
             THEN CAST(l_extendedprice AS DECIMAL(18,4))
                  * (CAST(1 AS DECIMAL(18,4))
                     - CAST(l_discount AS DECIMAL(18,4)))
             ELSE CAST(0 AS DECIMAL(18,4)) END) AS nation_rev,
         sum(CAST(l_extendedprice AS DECIMAL(18,4))
             * (CAST(1 AS DECIMAL(18,4))
                - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE r_name = '{SHARE_REGION}'
  GROUP BY 1
),
nation_market_share AS (
  SELECT o_year,
         CAST(nation_rev AS DOUBLE) AS nation_rev,
         CAST(total_rev AS DOUBLE) AS total_rev,
         round(CAST(nation_rev AS DOUBLE) / CAST(total_rev AS DOUBLE),
               6) AS mkt_share
  FROM nms
)
"""


# --------------------------------------------------------------------------
# Q12 shape: two-bucket conditional counts per category with IN-list
# --------------------------------------------------------------------------

SHIPBUCKET_LO = "1996-01-01"
SHIPBUCKET_HI = "1997-01-01"
SHIPBUCKET_FLAGS = ("R", "A")
HIGH_PRIORITIES = ("1-URGENT", "2-HIGH")


def priority_shipping_buckets(
    lineitem: DataFrame, orders: DataFrame
) -> DataFrame:
    """TPC-H-Q12-shaped (adapted: the fixture has no shipmode, so the
    return flag plays the category role): per category in an IN-list,
    counts of lines from high- vs low-priority orders within a ship
    year — the two-branch conditional aggregation. The IN-list and
    date window are scan predicates on the fact side; the only join
    carries (orderkey -> priority) and both CASE sums share one
    hash-agg on the tiny category grain."""
    f = (
        F.col("l_returnflag").isin(*SHIPBUCKET_FLAGS)
        & (F.col("l_shipdate") >= F.lit(SHIPBUCKET_LO))
        & (F.col("l_shipdate") < F.lit(SHIPBUCKET_HI))
    )
    high = F.col("o_orderpriority").isin(*HIGH_PRIORITIES)
    return (
        lineitem.filter(f)
        .select("l_orderkey", "l_returnflag")
        .join(
            orders.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


ORACLE_PRIORITY_SHIPPING = f"""
priority_shipping_buckets AS (
  SELECT l_returnflag,
         CAST(sum(CASE WHEN o_orderpriority IN
               ('{HIGH_PRIORITIES[0]}', '{HIGH_PRIORITIES[1]}')
             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         CAST(sum(CASE WHEN o_orderpriority IN
               ('{HIGH_PRIORITIES[0]}', '{HIGH_PRIORITIES[1]}')
             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag IN ('{SHIPBUCKET_FLAGS[0]}', '{SHIPBUCKET_FLAGS[1]}')
    AND l_shipdate >= '{SHIPBUCKET_LO}' AND l_shipdate < '{SHIPBUCKET_HI}'
  GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# 2D Pareto skyline (non-dominated parts)
# ---------------------------------------------------------------------------

SKY_PRICE_BUCKET = 100.0


def pareto_skyline(part: DataFrame) -> DataFrame:
    """Skyline / Pareto-frontier query (Borzsony et al., ICDE 2001):
    parts not dominated on (minimize p_retailprice, maximize p_size) —
    "no other part is at least as cheap AND at least as large, and
    strictly better in one".

    The naive form is an O(n^2) dominance self-join; this plan is the
    2D staircase algebra instead: reduce to the per-price grain (max
    size per price), compute "best size among strictly cheaper rows"
    as a bucketed prefix-max (per-bucket maxes -> tiny offset table ->
    within-bucket window over distinct prices), and keep rows at their
    price-group max that beat the staircase. No global sort, no
    self-join — one agg + one bucket-local window, same scale recipe
    as `ks_drift_test`'s cumulative counts. The DuckDB oracle replays
    the textbook NOT EXISTS dominance instead, so the differential
    proves the staircase rewrite. (d>2 skylines need the grid-prune /
    local-then-global pattern; 2D is the common price-quality case.)
    """
    pp = part.groupBy("p_retailprice").agg(
        F.max("p_size").alias("pmax")
    ).withColumn(
        "bucket", F.floor(F.col("p_retailprice") / SKY_PRICE_BUCKET)
    )
    btot = pp.groupBy("bucket").agg(F.max("pmax").alias("bmax"))
    woff = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = btot.select(
        "bucket", F.max("bmax").over(woff).alias("omax")
    )
    win = Window.partitionBy("bucket").orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    staircase = (
        pp.join(F.broadcast(offsets), "bucket")
        .withColumn("wmax", F.max("pmax").over(win))
        .select(
            "p_retailprice",
            "pmax",
            F.greatest(
                F.coalesce("omax", F.lit(-1)),
                F.coalesce("wmax", F.lit(-1)),
            ).alias("m1"),
        )
    )
    return (
        part.join(F.broadcast(staircase), "p_retailprice")
        .filter(
            (F.col("p_size") == F.col("pmax"))
            & (F.col("p_size") > F.col("m1"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


ORACLE_PARETO_SKYLINE = """
pareto_skyline AS (
  SELECT p.p_partkey, p.p_retailprice, p.p_size
  FROM part p
  WHERE NOT EXISTS (
    SELECT 1 FROM part q
    WHERE q.p_retailprice <= p.p_retailprice
      AND q.p_size >= p.p_size
      AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
)
"""


# ---------------------------------------------------------------------------
# weekly trending parts (rank movement)
# ---------------------------------------------------------------------------

TREND_TOP_K = 10
TREND_SALT = 16
_WEEK_MS = 7 * 86400 * 1000


def trending_parts(lineitem: DataFrame) -> DataFrame:
    """Week-over-week trending report: per week, the top-K parts by
    lineitem count with their previous-week rank and rank delta
    (NULL = new entrant) — the "movers" query every dashboard runs.

    Per-week top-K uses the salted two-level rank (per-(week, salt)
    local winners first, then K*SALT finalists per week), so no task
    ever sorts a whole week of part counts; the week-over-week join
    is an equi-join on (prev_week, part) between two K-row-per-week
    tables. Weeks are epoch-ms of date_trunc('week') under the UTC
    session, so prev = week - 604800000 exactly.
    """
    wk = F.unix_millis(F.date_trunc("week", F.col("l_shipdate")))
    cnts = lineitem.groupBy(
        wk.alias("week_ms"), F.col("l_partkey")
    ).agg(F.count("*").alias("cnt"))
    w1 = Window.partitionBy("week_ms", "salt").orderBy(
        F.col("cnt").desc(), "l_partkey"
    )
    w2 = Window.partitionBy("week_ms").orderBy(
        F.col("cnt").desc(), "l_partkey"
    )
    top = (
        cnts.withColumn("salt", F.pmod("l_partkey", F.lit(TREND_SALT)))
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= TREND_TOP_K)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TREND_TOP_K)
        .select("week_ms", "l_partkey", "cnt", "rank")
    )
    prev = top.select(
        (F.col("week_ms") + F.lit(_WEEK_MS)).alias("week_ms"),
        "l_partkey",
        F.col("rank").alias("prev_rank"),
    )
    return top.join(prev, ["week_ms", "l_partkey"], "left").select(
        "week_ms",
        "l_partkey",
        "cnt",
        "rank",
        "prev_rank",
        (F.col("prev_rank") - F.col("rank")).alias("rank_delta"),
    )


ORACLE_TRENDING = f"""
tr_cnt AS (
  SELECT epoch_ms(date_trunc('week', l_shipdate)) AS week_ms,
         l_partkey, CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2
),
tr_top AS (
  SELECT week_ms, l_partkey, cnt,
         CAST(row_number() OVER (
           PARTITION BY week_ms ORDER BY cnt DESC, l_partkey) AS INT)
           AS rank
  FROM tr_cnt
  QUALIFY row_number() OVER (
    PARTITION BY week_ms ORDER BY cnt DESC, l_partkey)
    <= {TREND_TOP_K}
),
trending_parts AS (
  SELECT t.week_ms, t.l_partkey, t.cnt, t.rank,
         p.rank AS prev_rank,
         p.rank - t.rank AS rank_delta
  FROM tr_top t
  LEFT JOIN tr_top p
    ON p.week_ms = t.week_ms - {_WEEK_MS}
   AND p.l_partkey = t.l_partkey
)
"""


# ---------------------------------------------------------------------------
# market-structure economics: price indices, concentration, ABC classes
# ---------------------------------------------------------------------------


def price_index_report(lineitem: DataFrame) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices per month against
    the first month as base — the econometric price-level readout
    over the fact table: L = Σp_t·q_0 / Σp_0·q_0 holds quantities at
    the base basket, P = Σp_t·q_t / Σp_0·q_t at the current one,
    Fisher is their geometric mean. Per (month, part) the price is
    the exact rational (cents, qty) pair; index terms are one scalar
    double per matched part (s_t/q_t·q_0 etc.), so fold-order noise
    across parts sits ~1e-10 under the 6-dp edge. Only parts traded
    in BOTH the month and the base enter (the matched-basket rule).

    Shape: one (month, part) hash-agg, one broadcast of the base
    month's basket (part-grain), one month-grain agg. The base-month
    key comes from a 1-row broadcast min.

    Output per month: month, n_parts, laspeyres, paasche, fisher.
    """
    mp = (
        lineitem.select(
            (
                F.year(F.to_date("l_shipdate")) * 100
                + F.month(F.to_date("l_shipdate"))
            ).alias("month"),
            F.col("l_partkey").alias("part"),
            F.col("l_quantity").cast("bigint").alias("q"),
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("bigint")
            .alias("s"),
        )
        .groupBy("month", "part")
        .agg(F.sum("q").alias("q"), F.sum("s").alias("s"))
    )
    base_m = mp.agg(F.min("month").alias("bm"))
    base = (
        mp.join(F.broadcast(base_m), mp.month == F.col("bm"))
        .select(
            "part",
            F.col("q").alias("q0"),
            F.col("s").alias("s0"),
        )
    )
    joined = mp.join(base, "part")
    pt = F.col("s").cast("double") / F.col("q").cast("double")
    p0 = F.col("s0").cast("double") / F.col("q0").cast("double")
    per_month = joined.groupBy("month").agg(
        F.count("*").alias("n_parts"),
        F.sum(pt * F.col("q0").cast("double")).alias("lnum"),
        F.sum(p0 * F.col("q0").cast("double")).alias("lden"),
        F.sum(pt * F.col("q").cast("double")).alias("pnum"),
        F.sum(p0 * F.col("q").cast("double")).alias("pden"),
    )
    lasp = F.col("lnum") / F.col("lden")
    paas = F.col("pnum") / F.col("pden")
    return per_month.select(
        "month",
        "n_parts",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


ORACLE_PRICE_INDEX = """
pi_mp AS (
  SELECT date_part('year', CAST(l_shipdate AS DATE)) * 100
         + date_part('month', CAST(l_shipdate AS DATE)) AS month,
         l_partkey AS part,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS s
  FROM lineitem GROUP BY 1, 2
),
pi_base AS (
  SELECT part, q AS q0, s AS s0 FROM pi_mp
  WHERE month = (SELECT min(month) FROM pi_mp)
),
pi_m AS (
  SELECT m.month, CAST(count(*) AS BIGINT) AS n_parts,
         sum(CAST(m.s AS DOUBLE) / CAST(m.q AS DOUBLE)
             * CAST(b.q0 AS DOUBLE)) AS lnum,
         sum(CAST(b.s0 AS DOUBLE) / CAST(b.q0 AS DOUBLE)
             * CAST(b.q0 AS DOUBLE)) AS lden,
         sum(CAST(m.s AS DOUBLE) / CAST(m.q AS DOUBLE)
             * CAST(m.q AS DOUBLE)) AS pnum,
         sum(CAST(b.s0 AS DOUBLE) / CAST(b.q0 AS DOUBLE)
             * CAST(m.q AS DOUBLE)) AS pden
  FROM pi_mp m JOIN pi_base b ON m.part = b.part
  GROUP BY 1
),
price_index_report AS (
  SELECT month, n_parts,
         round(lnum / lden, 6) AS laspeyres,
         round(pnum / pden, 6) AS paasche,
         round(sqrt((lnum / lden) * (pnum / pden)), 6) AS fisher
  FROM pi_m
)
"""


def market_hhi(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Herfindahl-Hirschman concentration index + CR4 over brand
    revenue shares — the antitrust-style market-structure readout
    beside the Gini/Lorenz inequality family: HHI = Σ (100·share_b)²
    (0..10000 points), CR4 = top-4 brands' combined share. Brand
    revenue is exact integer cents; shares divide once per brand row
    (dim-bounded grain), and the top-4 selection is a row_number over
    the ~dozens-of-brands grain ordered (rev DESC, brand) — bounded,
    deterministic under ties.

    Output (1 row): n_brands, total_cents, hhi, cr4.
    """
    rev = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast(
                    "bigint"
                )
            ).alias("r")
        )
    )
    tot = rev.agg(F.sum("r").alias("t"))
    wr = Window.orderBy(F.desc("r"), F.asc("brand"))
    shares = (
        rev.withColumn("rk", F.row_number().over(wr))
        .crossJoin(F.broadcast(tot))
    )
    sh = F.col("r").cast("double") / F.col("t").cast("double")
    return shares.agg(
        F.count("*").alias("n_brands"),
        F.max("t").alias("total_cents"),
        F.round(F.sum(F.lit(100.0) * sh * (F.lit(100.0) * sh)), 6).alias(
            "hhi"
        ),
        F.round(
            F.sum(F.when(F.col("rk") <= 4, sh).otherwise(F.lit(0.0))),
            6,
        ).alias("cr4"),
    )


ORACLE_HHI = """
hh_rev AS (
  SELECT p.p_brand AS brand,
         CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS r
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
),
hh_tot AS (SELECT CAST(sum(r) AS BIGINT) AS t FROM hh_rev),
hh_rk AS (
  SELECT r, t,
         row_number() OVER (ORDER BY r DESC, brand) AS rk
  FROM hh_rev, hh_tot
),
market_hhi AS (
  SELECT CAST(count(*) AS BIGINT) AS n_brands,
         max(t) AS total_cents,
         round(sum((100.0 * CAST(r AS DOUBLE) / CAST(t AS DOUBLE))
                   * (100.0 * CAST(r AS DOUBLE) / CAST(t AS DOUBLE))),
               6) AS hhi,
         round(sum(CASE WHEN rk <= 4
                        THEN CAST(r AS DOUBLE) / CAST(t AS DOUBLE)
                        ELSE 0.0 END), 6) AS cr4
  FROM hh_rk
)
"""


def abc_classes(lineitem: DataFrame) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, class A
    = the head that carries ≤80% of cumulative revenue, B to 95%, C
    the tail — the operational cut of the Lorenz curve. Cumulative
    revenue comes from descending prefix-sums over the DISTINCT
    part-revenue grain (no global sort; a tie group classifies as a
    unit), and the class cuts are cross-multiplied integers
    (cum·100 ≤ 80·total), so no float touches the decision.

    Output per class: abc_class, n_parts, rev_cents, rev_share.
    """
    from big_data_instacart_market_basket_analysis_spark.operators import (
        ranking as _rank,
    )

    per_part = lineitem.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
        ).alias("x")
    )
    # distinct part-revenue cent-sums are near-unique per part, so
    # this table is PART-grain — the descending cumulative runs on
    # the distributed-rank kernel, never a single-partition sort
    # (r5 full-board sweep finding, same class as the NB PR curve)
    per_v = per_part.groupBy("x").agg(
        F.count("*").alias("c")
    ).withColumn("xc", F.col("x") * F.col("c"))
    tot = per_part.agg(F.sum("x").alias("t"))
    classed = (
        _rank.global_ranked(per_v, [F.desc("x")], sum_cols=["xc"])
        .withColumnRenamed("_run_xc", "cum")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "c",
            F.when(
                F.col("cum") * 100 <= 80 * F.col("t"), F.lit("A")
            )
            .when(F.col("cum") * 100 <= 95 * F.col("t"), F.lit("B"))
            .otherwise(F.lit("C"))
            .alias("abc_class"),
            "t",
        )
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.sum("c").alias("n_parts"),
            F.sum(F.col("x") * F.col("c")).alias("rev_cents"),
            F.round(
                F.sum(F.col("x") * F.col("c")).cast("double")
                / F.max("t").cast("double"),
                6,
            ).alias("rev_share"),
        )
    )


ORACLE_ABC = """
abc_p AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS x
  FROM lineitem GROUP BY 1
),
abc_v AS (
  SELECT x, CAST(count(*) AS BIGINT) AS c FROM abc_p GROUP BY 1
),
abc_t AS (SELECT CAST(sum(x) AS BIGINT) AS t FROM abc_p),
abc_c AS (
  SELECT x, c, t,
         CASE WHEN cum * 100 <= 80 * t THEN 'A'
              WHEN cum * 100 <= 95 * t THEN 'B'
              ELSE 'C' END AS abc_class
  FROM (
    SELECT x, c,
           CAST(sum(x * c) OVER (ORDER BY x DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
    FROM abc_v
  ), abc_t
),
abc_classes AS (
  SELECT abc_class,
         CAST(sum(c) AS BIGINT) AS n_parts,
         CAST(sum(x * c) AS BIGINT) AS rev_cents,
         round(CAST(sum(x * c) AS BIGINT) / CAST(max(t) AS DOUBLE), 6)
           AS rev_share
  FROM abc_c GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# ABC-XYZ inventory matrix (revenue class x demand-variability class)
# ---------------------------------------------------------------------------


def abc_xyz_matrix(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """ABC-XYZ inventory matrix — the two-axis segmentation planners
    actually stock from: ABC cuts parts by cumulative revenue (the
    `abc_classes` Lorenz cut), XYZ cuts them by demand variability
    (coefficient of variation of WEEKLY quantity, zero-demand weeks
    included: X steady CV <= 0.5, Y moderate <= 1.0, Z erratic). An
    A/Z cell (high revenue, erratic demand) is the planner's problem
    child; C/X is automate-and-forget.

    EXACT integer decisions everywhere: with n = calendar week count
    (shared by all parts), S1 = total qty, S2 = sum of squared weekly
    qty, population variance * n^2 = n*S2 - S1^2 and mean^2 * n^2 =
    S1^2, so CV <= 1/2 iff 4*(n*S2 - S1^2) <= S1^2 and CV <= 1 iff
    n*S2 - S1^2 <= S1^2 — cross-multiplied DECIMAL(38,0)/HUGEINT,
    no division; the ABC cut reuses the cross-multiplied cum*100 <=
    80*total form on the revenue grain (rank kernel, no global
    window).

    Scale: one (part, week) agg, one part-grain agg, the
    revenue-grain ABC table from the rank kernel joined back on the
    cent-sum key, and a 9-cell output agg. Output per cell:
    abc_class, xyz_class, n_parts, rev_cents, qty_total.
    """
    from big_data_instacart_market_basket_analysis_spark.operators import (
        ranking as _rank,
    )

    li = lineitem.join(
        orders.select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.weekofyear(F.to_date("o_orderdate")).alias("wk_in_yr"),
            (
                F.year(F.to_date("o_orderdate")) * 100
                + F.weekofyear(F.to_date("o_orderdate"))
            ).alias("wk"),
        ),
        "l_orderkey",
    )
    weeks = li.select("wk").distinct().count()
    per_wk = li.groupBy("l_partkey", "wk").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("q")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_part = per_wk.groupBy("l_partkey").agg(
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
    )
    rev = lineitem.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
        ).alias("x")
    )
    var_n2 = dec(F.lit(weeks)) * dec(F.col("s2")) - dec(
        F.col("s1")
    ) * dec(F.col("s1"))
    mean_n2 = dec(F.col("s1")) * dec(F.col("s1"))
    xyz = per_part.select(
        "l_partkey",
        "s1",
        F.when(var_n2 * 4 <= mean_n2, F.lit("X"))
        .when(var_n2 <= mean_n2, F.lit("Y"))
        .otherwise(F.lit("Z"))
        .alias("xyz_class"),
    )
    per_v = rev.groupBy("x").agg(F.count("*").alias("c")).withColumn(
        "xc", F.col("x") * F.col("c")
    )
    tot = rev.agg(F.sum("x").alias("t"))
    classed = (
        _rank.global_ranked(per_v, [F.desc("x")], sum_cols=["xc"])
        .withColumnRenamed("_run_xc", "cum")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            F.when(
                F.col("cum") * 100 <= 80 * F.col("t"), F.lit("A")
            )
            .when(F.col("cum") * 100 <= 95 * F.col("t"), F.lit("B"))
            .otherwise(F.lit("C"))
            .alias("abc_class"),
        )
    )
    labeled = rev.join(classed, "x").join(xyz, "l_partkey")
    return labeled.groupBy("abc_class", "xyz_class").agg(
        F.count("*").alias("n_parts"),
        F.sum("x").alias("rev_cents"),
        F.sum("s1").alias("qty_total"),
    )


ORACLE_ABC_XYZ = """
ax_li AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice,
         date_part('year', CAST(o.o_orderdate AS DATE)) * 100
         + date_part('week', CAST(o.o_orderdate AS DATE)) AS wk
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
ax_wkn AS (
  SELECT CAST(count(DISTINCT wk) AS BIGINT) AS n FROM ax_li
),
ax_pw AS (
  SELECT l_partkey, wk, CAST(sum(CAST(l_quantity AS BIGINT))
         AS BIGINT) AS q
  FROM ax_li GROUP BY 1, 2
),
ax_pp AS (
  SELECT l_partkey, CAST(sum(q) AS BIGINT) AS s1,
         CAST(sum(q * q) AS BIGINT) AS s2
  FROM ax_pw GROUP BY 1
),
ax_xyz AS (
  SELECT l_partkey, s1,
         CASE WHEN 4 * (CAST(n AS HUGEINT) * s2
                        - CAST(s1 AS HUGEINT) * s1)
                   <= CAST(s1 AS HUGEINT) * s1 THEN 'X'
              WHEN CAST(n AS HUGEINT) * s2
                   - CAST(s1 AS HUGEINT) * s1
                   <= CAST(s1 AS HUGEINT) * s1 THEN 'Y'
              ELSE 'Z' END AS xyz_class
  FROM ax_pp, ax_wkn
),
ax_rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS x
  FROM lineitem GROUP BY 1
),
ax_v AS (
  SELECT x, CAST(count(*) AS BIGINT) AS c FROM ax_rev GROUP BY 1
),
ax_t AS (SELECT CAST(sum(x) AS BIGINT) AS t FROM ax_rev),
ax_cls AS (
  SELECT x,
         CASE WHEN cum * 100 <= 80 * t THEN 'A'
              WHEN cum * 100 <= 95 * t THEN 'B'
              ELSE 'C' END AS abc_class
  FROM (
    SELECT x, CAST(sum(x * c) OVER (ORDER BY x DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
    FROM ax_v
  ), ax_t
),
abc_xyz_matrix AS (
  SELECT cls.abc_class, z.xyz_class,
         CAST(count(*) AS BIGINT) AS n_parts,
         CAST(sum(r.x) AS BIGINT) AS rev_cents,
         CAST(sum(z.s1) AS BIGINT) AS qty_total
  FROM ax_rev r
  JOIN ax_cls cls ON r.x = cls.x
  JOIN ax_xyz z ON r.l_partkey = z.l_partkey
  GROUP BY 1, 2
)
"""


# --------------------------------------------------------------------------
# revealed comparative advantage / location quotient (round 7)
# --------------------------------------------------------------------------


def nation_rca(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """Revealed comparative advantage (Balassa index / location
    quotient) of each supplier nation in each part type:
    RCA = (rev_nt / rev_n) / (rev_t / rev_total) — which nations
    over-index in which product categories relative to the global
    mix, the trade-economics rollup beside the share reports
    (``nation_market_share`` asks "how much", RCA asks "relative to
    whom").

    All four revenue terms are exact integer cents from ONE
    (nation, type) hash-agg (the three coarser terms are rollups of
    the same 25 x 6 grid — no second fact pass). RCA divides once per
    grid row; the ``specialized`` flag (RCA > 1) is decided by the
    EXACT integer cross-multiplication rev_nt * rev_total >
    rev_n * rev_t in DECIMAL(38,0), so boundary cells never flip on
    float noise.

    Fact table touches: one, with both dims broadcast. Output per
    (nation, type): n_name, p_type, rev_cents, rca, specialized.
    """
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    grid = _cut(
        lineitem.join(
            F.broadcast(
                supplier.select("s_suppkey", "s_nationkey")
            ),
            lineitem.l_suppkey == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_type")),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .groupBy("n_name", "p_type")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast(
                    "bigint"
                )
            ).alias("rev_nt")
        )
    )  # 25 x 6 grid; 3 rollups
    by_n = grid.groupBy("n_name").agg(F.sum("rev_nt").alias("rev_n"))
    by_t = grid.groupBy("p_type").agg(F.sum("rev_nt").alias("rev_t"))
    tot = grid.agg(F.sum("rev_nt").alias("rev_all"))
    out = (
        grid.join(F.broadcast(by_n), "n_name")
        .join(F.broadcast(by_t), "p_type")
        .crossJoin(F.broadcast(tot))
    )
    rca = F.round(
        (
            F.col("rev_nt").cast("double")
            * F.col("rev_all").cast("double")
        )
        / (
            F.col("rev_n").cast("double")
            * F.col("rev_t").cast("double")
        ),
        6,
    )
    return out.select(
        "n_name",
        "p_type",
        F.col("rev_nt").alias("rev_cents"),
        rca.alias("rca"),
        (
            dec(F.col("rev_nt")) * dec(F.col("rev_all"))
            > dec(F.col("rev_n")) * dec(F.col("rev_t"))
        ).alias("specialized"),
    )


ORACLE_NATION_RCA = """
rca_grid AS MATERIALIZED (
  SELECT n.n_name, p.p_type,
         CAST(sum(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS rev_nt
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
rca_n AS (
  SELECT n_name, CAST(sum(rev_nt) AS BIGINT) AS rev_n
  FROM rca_grid GROUP BY 1
),
rca_t AS (
  SELECT p_type, CAST(sum(rev_nt) AS BIGINT) AS rev_t
  FROM rca_grid GROUP BY 1
),
rca_tot AS (SELECT CAST(sum(rev_nt) AS BIGINT) AS rev_all
            FROM rca_grid),
nation_rca AS (
  SELECT g.n_name, g.p_type, g.rev_nt AS rev_cents,
         round((CAST(g.rev_nt AS DOUBLE) * CAST(t.rev_all AS DOUBLE))
               / (CAST(n.rev_n AS DOUBLE)
                  * CAST(y.rev_t AS DOUBLE)), 6) AS rca,
         CAST(g.rev_nt AS HUGEINT) * t.rev_all
           > CAST(n.rev_n AS HUGEINT) * y.rev_t AS specialized
  FROM rca_grid g
  JOIN rca_n n ON g.n_name = n.n_name
  JOIN rca_t y ON g.p_type = y.p_type
  CROSS JOIN rca_tot t
)
"""
