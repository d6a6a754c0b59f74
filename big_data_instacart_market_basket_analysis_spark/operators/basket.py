"""Market-basket association-rule mining over the prior order baskets.

The reference repo's domain (README.md:1 "Market Basket Analysis") is
basket analysis, and the project north star names association rule
mining explicitly; the reference itself stops at per-(user,product)
reorder features (F.py:111-118), so this module supplies the canonical
basket operators a user of an Instacart-analysis engine expects:

- ``frequent_pairs``: support-counted co-occurring product pairs — the
  inverted-index self-join on orderID. Amplification per basket is
  C(k,2) for basket size k; Instacart baskets are small (k ~ 10), so
  the join stays bounded. At 100 TB the orderID join key is uniform
  (one basket per order) — no skew; AQE handles stragglers. A giant
  pathological basket would be capped with ``slice`` before the join.
- ``pair_rules``: A->B / B->A association rules with support,
  confidence, lift — pure post-aggregation arithmetic on the pair and
  item counts; the three inputs are one shuffle each and the item-count
  side is broadcast (distinct products << facts).
- ``fpgrowth_itemsets`` / ``fpgrowth_rules``: the general-arity path
  via ``pyspark.ml.fpm.FPGrowth`` (distributed FP-Growth, PFP: Li et
  al. 2008). Spark-only (no SQL-expressible oracle for arbitrary-arity
  itemsets) -> rows-only driver check; the pairwise operators above are
  the hash-checked anchor for the same statistics at arity 2.

All thresholds are counts (not fractions) so results are identical at
any scale factor slice; fraction-based minSupport for FPGrowth is
derived from the basket count at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.instacart import InstacartTables
from ._staging import stage as _stage

#: minimum co-occurrence count for a pair to be "frequent" (fixture
#: baskets are sparse: max pair count at sf0.01/sf0.1 is 2).
MIN_PAIR_COUNT = 2
#: FPGrowth association-rule confidence floor.
MIN_CONFIDENCE = 0.05


def baskets(t: InstacartTables) -> DataFrame:
    """Distinct (orderID, productID) pairs of the prior split — the
    basket relation every operator below consumes."""
    return t.prior_products.select("orderID", "productID").distinct()


def _n_baskets(bk: DataFrame) -> DataFrame:
    """Single-row basket count, cross-joined (broadcast) where a global
    denominator is needed — never collected to the driver."""
    return bk.agg(F.countDistinct("orderID").alias("n_baskets"))


#: filtered (p1, p2, pair_count) per (tables, min_count),
#: session-staged — the basket self-join is the heaviest stage of the
#: mining family and feeds frequent_pairs, pair_rules, and the SQL
#: views; without the stage each consumer re-runs it. The FILTERED
#: counts are staged (support floor applied first) so the stage stays
#: frequent-pair-sized, not all-pairs-sized.
def _pair_counts_staged(t: InstacartTables, min_count: int) -> DataFrame:
    def build() -> DataFrame:
        bk = baskets(t)
        a, b = bk.alias("a"), bk.alias("b")
        return (
            a.join(
                b,
                (F.col("a.orderID") == F.col("b.orderID"))
                & (F.col("a.productID") < F.col("b.productID")),
            )
            .groupBy(
                F.col("a.productID").alias("p1"),
                F.col("b.productID").alias("p2"),
            )
            .agg(F.count("*").alias("pair_count"))
            .filter(F.col("pair_count") >= min_count)
        )

    return _stage("basket_pair_counts", t, build, min_count)


def frequent_pairs(
    t: InstacartTables, min_count: int = MIN_PAIR_COUNT
) -> DataFrame:
    """Co-occurring product pairs with raw count + support fraction.

    Self-join keyed on orderID (co-partitioned — one shuffle each side,
    then the pair groupBy). ``p1 < p2`` halves the output and makes the
    pair key canonical. The filtered counts are session-staged
    (``_pair_counts_staged``) so pair_rules and the SQL views reuse
    them instead of re-running the self-join.
    """
    bk = baskets(t)
    pairs = _pair_counts_staged(t, min_count)
    return pairs.crossJoin(F.broadcast(_n_baskets(bk))).select(
        "p1",
        "p2",
        "pair_count",
        (F.col("pair_count") / F.col("n_baskets")).alias("support"),
    )


ORACLE_BASKETS = """
ibaskets AS (
  SELECT DISTINCT orderID, productID FROM iprior_products
),
inb AS (SELECT count(DISTINCT orderID) AS n_baskets FROM ibaskets)
"""

ORACLE_FREQUENT_PAIRS = f"""
frequent_pairs AS (
  SELECT a.productID AS p1, b.productID AS p2,
         count(*) AS pair_count,
         CAST(count(*) AS DOUBLE) / (SELECT n_baskets FROM inb) AS support
  FROM ibaskets a
  JOIN ibaskets b ON a.orderID = b.orderID AND a.productID < b.productID
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_PAIR_COUNT}
)
"""


def pair_rules(
    t: InstacartTables, min_count: int = MIN_PAIR_COUNT
) -> DataFrame:
    """Arity-2 association rules: for each frequent pair, both
    directed rules with confidence = supp(A,B)/supp(A) and
    lift = confidence / (count(B)/n_baskets).

    Item counts are a tiny dimension (|products| rows) -> broadcast
    joins; the double-precision op order (count ratio, then ratio of
    ratios) is replicated verbatim in the oracle SQL.
    """
    bk = baskets(t)
    item_counts = bk.groupBy("productID").agg(
        F.count("*").alias("item_count")
    )
    pairs = _pair_counts_staged(t, min_count)

    # both rule directions from ONE scan of the pair table: a union of
    # two selects would embed the basket self-join + aggregation twice
    # in the plan and execute it twice (measured ~2x the frequent_pairs
    # time); the explode doubles rows map-side instead.
    rules = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("p1").alias("antecedent"),
                        F.col("p2").alias("consequent"),
                        F.col("pair_count").alias("pair_count"),
                    ),
                    F.struct(
                        F.col("p2").alias("antecedent"),
                        F.col("p1").alias("consequent"),
                        F.col("pair_count").alias("pair_count"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
        .join(
            F.broadcast(
                item_counts.select(
                    F.col("productID").alias("antecedent"),
                    F.col("item_count").alias("ante_count"),
                )
            ),
            "antecedent",
        )
        .join(
            F.broadcast(
                item_counts.select(
                    F.col("productID").alias("consequent"),
                    F.col("item_count").alias("cons_count"),
                )
            ),
            "consequent",
        )
    )
    return rules.crossJoin(F.broadcast(_n_baskets(bk))).select(
        "antecedent",
        "consequent",
        "pair_count",
        "ante_count",
        "cons_count",
        (F.col("pair_count") / F.col("ante_count")).alias("confidence"),
        (
            (F.col("pair_count") / F.col("ante_count"))
            / (F.col("cons_count") / F.col("n_baskets"))
        ).alias("lift"),
    )


ORACLE_PAIR_RULES = f"""
iitem_counts AS (
  SELECT productID, count(*) AS item_count FROM ibaskets GROUP BY 1
),
ipairs AS (
  SELECT a.productID AS p1, b.productID AS p2, count(*) AS pair_count
  FROM ibaskets a
  JOIN ibaskets b ON a.orderID = b.orderID AND a.productID < b.productID
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_PAIR_COUNT}
),
idirected AS (
  SELECT p1 AS antecedent, p2 AS consequent, pair_count FROM ipairs
  UNION ALL
  SELECT p2 AS antecedent, p1 AS consequent, pair_count FROM ipairs
),
pair_rules AS (
  SELECT d.antecedent, d.consequent, d.pair_count,
         ia.item_count AS ante_count,
         ic.item_count AS cons_count,
         CAST(d.pair_count AS DOUBLE) / ia.item_count AS confidence,
         (CAST(d.pair_count AS DOUBLE) / ia.item_count)
           / (CAST(ic.item_count AS DOUBLE)
              / (SELECT n_baskets FROM inb)) AS lift
  FROM idirected d
  JOIN iitem_counts ia ON ia.productID = d.antecedent
  JOIN iitem_counts ic ON ic.productID = d.consequent
)
"""


def basket_sizes(t: InstacartTables) -> DataFrame:
    """Basket-size histogram: how many prior orders contain k distinct
    products. One hash-agg pass, then a tiny re-agg on k."""
    return (
        baskets(t)
        .groupBy("orderID")
        .agg(F.count("*").alias("basket_size"))
        .groupBy("basket_size")
        .agg(F.count("*").alias("n_orders"))
    )


ORACLE_BASKET_SIZES = """
basket_sizes AS (
  SELECT basket_size, count(*) AS n_orders FROM (
    SELECT orderID, count(*) AS basket_size FROM ibaskets GROUP BY 1
  ) GROUP BY 1
)
"""


def _fit_fpgrowth(t: InstacartTables, min_count: int):
    """Fit distributed FP-Growth over prior baskets with a count-based
    support floor (converted to the fraction FPGrowth expects)."""
    from pyspark.ml.fpm import FPGrowth

    bk = baskets(t)
    items = bk.groupBy("orderID").agg(
        F.array_sort(F.collect_set("productID")).alias("items")
    )
    n = items.count()
    fp = FPGrowth(
        itemsCol="items",
        minSupport=max(min_count - 0.5, 0.5) / max(n, 1),
        minConfidence=MIN_CONFIDENCE,
    )
    return fp.fit(items), n


def fpgrowth_itemsets(
    t: InstacartTables, min_count: int = MIN_PAIR_COUNT
) -> DataFrame:
    """Frequent itemsets of every arity via pyspark.ml FP-Growth.

    Items rendered as a sorted space-joined string for hash-stable
    output (rows-only driver check; arity-2 slice is cross-checked
    against ``frequent_pairs`` in tests).
    """
    model, _ = _fit_fpgrowth(t, min_count)
    return model.freqItemsets.select(
        F.array_join(
            F.array_sort(F.col("items")).cast("array<string>"), " "
        ).alias("itemset"),
        F.size("items").alias("arity"),
        F.col("freq").alias("freq"),
    )


def fpgrowth_rules(
    t: InstacartTables, min_count: int = MIN_PAIR_COUNT
) -> DataFrame:
    """Association rules from the FP-Growth model (any-arity
    antecedents), with confidence/lift/support as computed by
    pyspark.ml (rows-only check)."""
    model, _ = _fit_fpgrowth(t, min_count)
    return model.associationRules.select(
        F.array_join(
            F.array_sort(F.col("antecedent")).cast("array<string>"), " "
        ).alias("antecedent"),
        F.array_join(
            F.array_sort(F.col("consequent")).cast("array<string>"), " "
        ).alias("consequent"),
        "confidence",
        "lift",
        "support",
    )


# ---------------------------------------------------------------------------
# sequential pattern mining ("p then q" across a user's order history)
# ---------------------------------------------------------------------------

#: minimum user count for a sequential pair to be reported.
MIN_SEQ_COUNT = 2
#: PrefixSpan pattern-length cap (2 = the oracle-anchored slice).
MAX_PATTERN_LEN = 2


def product_order_spans(t: InstacartTables) -> DataFrame:
    """Per (user, product): the first and last prior order_number in
    which the product appears — one hash-agg after the fact-to-orders
    join. ``p strictly before q`` for a user reduces to
    ``first_on(p) < last_on(q)`` (order numbers are distinct per
    user), so downstream sequence tests never rescan the order log."""
    return (
        t.prior_products.select("orderID", "productID")
        .join(
            t.prior_orders.select("orderID", "userID", "order_number"),
            "orderID",
        )
        .groupBy("userID", "productID")
        .agg(
            F.min("order_number").alias("first_on"),
            F.max("order_number").alias("last_on"),
        )
    )


#: per-user product spans, session-staged by tables (the tables
#: object is itself staged per (session, sf_dir)). The self-join below
#: reads spans TWICE — unstaged, the fact-join + hash-agg runs once
#: per side (measured 1.9-3.3 s at sf0.1 under load, round-2 watch
#: item; staged steady-state is pinned in BENCH_BASELINE.md).
def _spans_staged(t: InstacartTables) -> DataFrame:
    return _stage("product_spans", t, lambda: product_order_spans(t))


def sequential_pairs(
    t: InstacartTables, min_count: int = MIN_SEQ_COUNT
) -> DataFrame:
    """Arity-2 sequential patterns: product pairs (p, q) where at
    least ``min_count`` users bought p in an order strictly BEFORE an
    order containing q — including p == q, the repurchase pattern
    (first_on < last_on on one product means two distinct orders).
    The exact, SQL-expressible anchor for ``prefixspan_patterns``
    (same statistic at pattern length 2, verified in tests) — the
    same role ``frequent_pairs`` plays for FP-Growth.

    Plan: the span table (one row per user-product) self-joins on
    userID — per-user work is quadratic in the user's distinct
    products (Instacart-scale: tens), never in orders or corpus size;
    the userID key is uniform so the shuffle has no skew."""
    spans = _spans_staged(t)
    a, b = spans.alias("a"), spans.alias("b")
    return (
        a.join(
            b,
            (F.col("a.userID") == F.col("b.userID"))
            & (F.col("a.first_on") < F.col("b.last_on")),
        )
        .groupBy(
            F.col("a.productID").alias("antecedent"),
            F.col("b.productID").alias("consequent"),
        )
        .agg(F.count("*").alias("n_users"))
        .filter(F.col("n_users") >= min_count)
    )


ORACLE_SEQ_SPANS = """
iseq_spans AS (
  SELECT o.userID, op.productID,
         min(o.order_number) AS first_on,
         max(o.order_number) AS last_on
  FROM iprior_products op
  JOIN iprior_orders o ON op.orderID = o.orderID
  GROUP BY 1, 2
)
"""

ORACLE_SEQUENTIAL_PAIRS = f"""
sequential_pairs AS (
  SELECT a.productID AS antecedent, b.productID AS consequent,
         CAST(count(*) AS BIGINT) AS n_users
  FROM iseq_spans a
  JOIN iseq_spans b
    ON a.userID = b.userID
   AND a.first_on < b.last_on
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_SEQ_COUNT}
)
"""


def user_sequences(t: InstacartTables) -> DataFrame:
    """Per-user ordered basket sequences for PrefixSpan: one itemset
    per prior order (sorted product set), itemsets ordered by
    order_number. The ordering is imposed by sorting an array of
    (order_number, items) structs — no window, one shuffle on userID."""
    per_order = (
        t.prior_products.select("orderID", "productID")
        .join(
            t.prior_orders.select("orderID", "userID", "order_number"),
            "orderID",
        )
        .groupBy("userID", "order_number")
        .agg(F.array_sort(F.collect_set("productID")).alias("items"))
    )
    return per_order.groupBy("userID").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("order_number", "items"))
            ),
            lambda s: s["items"],
        ).alias("sequence")
    )


def prefixspan_patterns(
    t: InstacartTables,
    min_count: int = MIN_SEQ_COUNT,
    max_len: int = MAX_PATTERN_LEN,
) -> DataFrame:
    """General sequential patterns via ``pyspark.ml.fpm.PrefixSpan``
    (distributed PrefixSpan: Pei et al. 2001). Any pattern length up
    to ``max_len``, itemsets of any arity. Spark-only (no
    SQL-expressible oracle for arbitrary patterns) -> rows-only driver
    check; ``sequential_pairs`` is the hash-checked anchor for the
    [[p],[q]] slice. The count-based support floor converts to the
    fraction PrefixSpan expects, as in ``_fit_fpgrowth``."""
    from pyspark.ml.fpm import PrefixSpan

    seqs = user_sequences(t)
    n = seqs.count()
    ps = PrefixSpan(
        minSupport=max(min_count - 0.5, 0.5) / max(n, 1),
        maxPatternLength=max_len,
        sequenceCol="sequence",
    )
    pats = ps.findFrequentSequentialPatterns(seqs)
    return pats.select(
        F.array_join(
            F.transform(
                F.col("sequence"),
                lambda s: F.array_join(
                    F.array_sort(s).cast("array<string>"), " "
                ),
            ),
            " | ",
        ).alias("pattern"),
        F.size("sequence").alias("n_itemsets"),
        F.col("freq").alias("freq"),
    )


# ---------------------------------------------------------------------------
# verified Apriori: arity-3 frequent itemsets with candidate pruning
# ---------------------------------------------------------------------------


def apriori_triples(
    t: InstacartTables, min_count: int = MIN_PAIR_COUNT
) -> DataFrame:
    """Frequent 3-itemsets via the Apriori candidate-pruning scheme —
    the hash-verified arity-3 anchor for the rows-only FPGrowth path
    (``fpgrowth_itemsets``), the way ``frequent_pairs`` anchors arity 2.

    Classic Apriori (Agrawal & Srikant, VLDB'94) downward closure: a
    triple can only be frequent if all three of its sub-pairs are.
    The plan exploits that *before* support counting — the dominant
    cost at scale is the candidate-occurrence stream, not the final
    HAVING:

    1. pair occurrences per basket, immediately semi-joined to the
       min-count-filtered frequent-pair list (broadcast — the pair
       list is support-floored, hence small);
    2. extend each surviving (p1, p2) occurrence with a third basket
       item p3 > p2 (co-partitioned orderID join — no new shuffle
       key);
    3. prune extensions whose (p1, p3) or (p2, p3) sub-pair is not
       frequent (two more broadcast semi-joins) — this is the Apriori
       step: at 100 TB it shrinks the groupBy input by orders of
       magnitude versus counting all C(k,3) basket triples;
    4. count support per (p1, p2, p3), keep >= min_count.

    Amplification stays bounded by (frequent pairs per basket) x
    basket width, never C(k,3) of raw width. The DuckDB oracle counts
    all basket triples directly and applies only the final HAVING —
    downward closure guarantees the pruned plan produces the identical
    result, so the hash match *proves* the pruning is lossless.
    """
    bk = baskets(t)
    freq = _pair_counts_staged(t, min_count).select("p1", "p2")
    occ = (
        bk.alias("a")
        .join(
            bk.alias("b"),
            (F.col("a.orderID") == F.col("b.orderID"))
            & (F.col("a.productID") < F.col("b.productID")),
        )
        .select(
            F.col("a.orderID").alias("orderID"),
            F.col("a.productID").alias("p1"),
            F.col("b.productID").alias("p2"),
        )
        .join(F.broadcast(freq), ["p1", "p2"], "leftsemi")
    )
    ext = (
        occ.join(bk.alias("c"), "orderID")
        .filter(F.col("c.productID") > F.col("p2"))
        .select("orderID", "p1", "p2", F.col("c.productID").alias("p3"))
        .join(
            F.broadcast(freq.select(F.col("p1"), F.col("p2").alias("p3"))),
            ["p1", "p3"],
            "leftsemi",
        )
        .join(
            F.broadcast(
                freq.select(F.col("p1").alias("p2"), F.col("p2").alias("p3"))
            ),
            ["p2", "p3"],
            "leftsemi",
        )
    )
    return (
        ext.groupBy("p1", "p2", "p3")
        .agg(F.count("*").alias("triple_count"))
        .filter(F.col("triple_count") >= min_count)
        .crossJoin(F.broadcast(_n_baskets(bk)))
        .select(
            "p1",
            "p2",
            "p3",
            "triple_count",
            (F.col("triple_count") / F.col("n_baskets")).alias("support"),
        )
    )


ORACLE_APRIORI_TRIPLES = f"""
apriori_triples AS (
  SELECT a.productID AS p1, b.productID AS p2, c.productID AS p3,
         count(*) AS triple_count,
         CAST(count(*) AS DOUBLE) / (SELECT n_baskets FROM inb) AS support
  FROM ibaskets a
  JOIN ibaskets b ON a.orderID = b.orderID AND a.productID < b.productID
  JOIN ibaskets c ON b.orderID = c.orderID AND b.productID < c.productID
  GROUP BY 1, 2, 3
  HAVING count(*) >= {MIN_PAIR_COUNT}
)
"""


# ---------------------------------------------------------------------------
# closed / maximal frequent pairs (itemset-lattice condensation)
# ---------------------------------------------------------------------------


def closed_maximal_pairs(
    t: InstacartTables, min_count: int = MIN_PAIR_COUNT
) -> DataFrame:
    """Condensed itemset-lattice flags for every frequent pair:
    ``is_closed`` (no frequent superset with EQUAL support — the pair
    carries information no triple already carries) and ``is_maximal``
    (no frequent superset at all). The classic output-compression for
    pattern mining: at corpus scale the closed/maximal subsets are
    the ones worth shipping.

    Exactness argument: a triple's support never exceeds its
    sub-pair's, so any equal-support superset of a pair that clears
    ``min_count`` is itself >= min_count and hence present in the
    Apriori triple set — comparing against ``apriori_triples`` at the
    SAME threshold is complete, not approximate. Cost: the triple set
    exploded 3x (tiny — support-floored) + one broadcast join onto
    the pair list. Output: p1, p2, pair_count, is_closed, is_maximal.
    """
    pairs = frequent_pairs(t, min_count).select(
        "p1", "p2", "pair_count"
    )
    triples = apriori_triples(t, min_count).selectExpr(
        "stack(3,"
        " p1, p2, triple_count,"
        " p1, p3, triple_count,"
        " p2, p3, triple_count) AS (x, y, tcnt)"
    )
    sup = triples.groupBy("x", "y").agg(
        F.count("*").alias("n_sup"),
        F.max("tcnt").alias("max_sup_cnt"),
    )
    return pairs.join(
        F.broadcast(sup),
        (F.col("p1") == F.col("x")) & (F.col("p2") == F.col("y")),
        "left",
    ).select(
        "p1",
        "p2",
        "pair_count",
        (
            F.col("max_sup_cnt").isNull()
            | (F.col("max_sup_cnt") < F.col("pair_count"))
        ).alias("is_closed"),
        F.col("n_sup").isNull().alias("is_maximal"),
    )


ORACLE_CLOSED_MAXIMAL_PAIRS = """
cmp_sup AS (
  SELECT x, y, count(*) AS n_sup, max(tcnt) AS max_sup_cnt
  FROM (
    SELECT p1 AS x, p2 AS y, triple_count AS tcnt FROM apriori_triples
    UNION ALL
    SELECT p1, p3, triple_count FROM apriori_triples
    UNION ALL
    SELECT p2, p3, triple_count FROM apriori_triples
  )
  GROUP BY 1, 2
),
closed_maximal_pairs AS (
  SELECT f.p1, f.p2, f.pair_count,
         s.max_sup_cnt IS NULL OR s.max_sup_cnt < f.pair_count
           AS is_closed,
         s.n_sup IS NULL AS is_maximal
  FROM frequent_pairs f
  LEFT JOIN cmp_sup s ON f.p1 = s.x AND f.p2 = s.y
)
"""


# ---------------------------------------------------------------------------
# substitute / complement classification (same-aisle pair deviation test)
# ---------------------------------------------------------------------------

#: a product must appear in at least max(SUBST_MIN_BASKETS,
#: n_baskets DIV SUBST_BASKETS_PER_POP) baskets to enter the
#: substitution grid. The floor SCALES WITH THE INPUT (r7 verdict
#: task 3): a fixed count (the r7 value was 30) exceeded every
#: product's basket count at fixture scale, so the differential
#: only ever proved both engines agree the grid is empty. The
#: linear term keeps the per-aisle popular set roughly constant as
#: baskets grow (popularity counts scale with n_baskets), bounding
#: the quadratic at any sf; the absolute floor keeps tiny fixtures
#: from admitting noise products.
SUBST_MIN_BASKETS = 10
SUBST_BASKETS_PER_POP = 500


def pair_substitutes(t: InstacartTables) -> DataFrame:
    """Substitute vs complement classification for same-aisle popular
    product pairs: under independence a pair co-occurs in n1·n2/N
    baskets; pairs observed FAR BELOW that (z <= −1.96, Poisson
    approximation) are substitutes (buying one displaces the other),
    far above are complements — the retail category-management
    readout that frequent-pairs mining alone cannot give, because
    substitutes are defined by ABSENT co-occurrences.

    The candidate grid is same-aisle pairs of popular products
    (>= max({mb}, n_baskets/{bp}) baskets — the floor scales with the
    corpus so the grid is non-empty at fixture scale yet the per-aisle
    popular set stays roughly constant as baskets grow), so the
    quadratic step is bounded per aisle by the popular-product count —
    the ER-blocking discipline applied to market baskets. Observed
    counts left-join from the shared staged pair table (0 default);
    every statistic is a scalar on exact BIGINTs.

    Output per pair: aisle_id, p1, p2, n1, n2, obs, expected, z,
    relation.
    """
    bk = baskets(t)
    nb = _n_baskets(bk)
    pc = bk.groupBy("productID").agg(F.count("*").alias("np"))
    pop = (
        pc.crossJoin(F.broadcast(nb))
        .filter(
            F.col("np")
            >= F.greatest(
                F.lit(SUBST_MIN_BASKETS),
                F.expr(f"n_baskets DIV {SUBST_BASKETS_PER_POP}"),
            )
        )
        .drop("n_baskets")
        .join(
            F.broadcast(t.products.select("productID", "aisle_id")),
            "productID",
        )
    )
    a = pop.select(
        F.col("aisle_id"),
        F.col("productID").alias("p1"),
        F.col("np").alias("n1"),
    )
    b = pop.select(
        F.col("aisle_id"),
        F.col("productID").alias("p2"),
        F.col("np").alias("n2"),
    )
    grid = a.join(b, "aisle_id").filter(F.col("p1") < F.col("p2"))
    obs = _pair_counts_staged(t, 1).select(
        "p1", "p2", F.col("pair_count").alias("obs")
    )
    scored = (
        grid.join(obs, ["p1", "p2"], "left")
        .crossJoin(F.broadcast(nb))
        .select(
            "aisle_id",
            "p1",
            "p2",
            "n1",
            "n2",
            F.coalesce("obs", F.lit(0)).alias("obs"),
            (
                F.col("n1").cast("double")
                * F.col("n2").cast("double")
                / F.col("n_baskets").cast("double")
            ).alias("exp_raw"),
        )
    )
    z = (F.col("obs") - F.col("exp_raw")) / F.sqrt(F.col("exp_raw"))
    return scored.select(
        "aisle_id",
        "p1",
        "p2",
        "n1",
        "n2",
        "obs",
        F.round("exp_raw", 4).alias("expected"),
        F.round(z, 6).alias("z"),
        F.when(F.round(z, 6) <= -1.96, F.lit("substitute"))
        .when(F.round(z, 6) >= 1.96, F.lit("complement"))
        .otherwise(F.lit("independent"))
        .alias("relation"),
    )


pair_substitutes.__doc__ = pair_substitutes.__doc__.format(
    mb=SUBST_MIN_BASKETS, bp=SUBST_BASKETS_PER_POP
)


ORACLE_PAIR_SUBSTITUTES = f"""
ps_pc AS (
  SELECT productID, CAST(count(*) AS BIGINT) AS np
  FROM ibaskets GROUP BY 1
),
ps_pop AS (
  SELECT c.productID, c.np, p.aisle_id
  FROM ps_pc c JOIN iproducts p USING (productID)
  WHERE c.np >= (SELECT greatest({SUBST_MIN_BASKETS},
                                 n_baskets // {SUBST_BASKETS_PER_POP})
                 FROM inb)
),
ps_obs AS (
  SELECT a.productID AS p1, b.productID AS p2,
         CAST(count(*) AS BIGINT) AS obs
  FROM ibaskets a JOIN ibaskets b
    ON a.orderID = b.orderID AND a.productID < b.productID
  GROUP BY 1, 2
),
ps_grid AS (
  SELECT a.aisle_id, a.productID AS p1, b.productID AS p2,
         a.np AS n1, b.np AS n2
  FROM ps_pop a JOIN ps_pop b
    ON a.aisle_id = b.aisle_id AND a.productID < b.productID
),
pair_substitutes AS (
  SELECT g.aisle_id, g.p1, g.p2, g.n1, g.n2,
         CAST(coalesce(o.obs, 0) AS BIGINT) AS obs,
         round(CAST(g.n1 AS DOUBLE) * CAST(g.n2 AS DOUBLE)
               / CAST(nb.n_baskets AS DOUBLE), 4) AS expected,
         round((coalesce(o.obs, 0)
                - CAST(g.n1 AS DOUBLE) * CAST(g.n2 AS DOUBLE)
                  / CAST(nb.n_baskets AS DOUBLE))
               / sqrt(CAST(g.n1 AS DOUBLE) * CAST(g.n2 AS DOUBLE)
                      / CAST(nb.n_baskets AS DOUBLE)), 6) AS z,
         CASE WHEN round((coalesce(o.obs, 0)
                - CAST(g.n1 AS DOUBLE) * CAST(g.n2 AS DOUBLE)
                  / CAST(nb.n_baskets AS DOUBLE))
               / sqrt(CAST(g.n1 AS DOUBLE) * CAST(g.n2 AS DOUBLE)
                      / CAST(nb.n_baskets AS DOUBLE)), 6) <= -1.96
              THEN 'substitute'
              WHEN round((coalesce(o.obs, 0)
                - CAST(g.n1 AS DOUBLE) * CAST(g.n2 AS DOUBLE)
                  / CAST(nb.n_baskets AS DOUBLE))
               / sqrt(CAST(g.n1 AS DOUBLE) * CAST(g.n2 AS DOUBLE)
                      / CAST(nb.n_baskets AS DOUBLE)), 6) >= 1.96
              THEN 'complement'
              ELSE 'independent' END AS relation
  FROM ps_grid g
  LEFT JOIN ps_obs o ON g.p1 = o.p1 AND g.p2 = o.p2
  CROSS JOIN inb nb
)
"""
