"""[EXT] Iterative graph analytics over the product co-purchase graph.

The graph view of the reference's basket and frequent-pair mining
(F.py:296-396 territory): centrality, traversal, triangles and cores,
communities, link prediction and item similarity. Every query reads
the session-staged distinct directed edge list (``_edges_staged``:
(a, b) iff parts a != b share an order), which shuffles once on
orderkey. Design rules:

- **Integer arithmetic.** Ranks, distances and scores are integers
  (scaled millionths with floor division, e.g. PageRank's
  ``r' = 150000 + (85 * incoming) DIV 100``). Float sums differ by
  accumulation order across engines and partitions; integers
  hash-match exactly.
- **Fixed unrolled supersteps.** Each iteration runs a fixed number
  of rounds with no driver collect, and the DuckDB oracle unrolls the
  same rounds as chained CTEs (recursive CTEs disallow aggregation in
  the recursive term).
- **One kernel per shared algorithm.** Four algorithms serve more
  than one query; each is one private kernel that takes the queries'
  one difference as an argument:

  - ``_pagerank``: ``pagerank_products`` and ``personalized_pagerank``
    (the seed predicate: every node, or partkey % PPR_SEED_MOD == 0);
  - ``_bellman_ford``: ``bfs_distances`` and ``sssp_weighted`` (the
    edge weight: 1, or the price gap);
  - ``_link_scores``: ``link_prediction_ra`` and
    ``adamic_adar_prediction`` (the per-centre ``give``: 1e6 DIV deg,
    or floor(1e6 / ln deg));
  - ``_node_triangles`` over ``_degrees``: ``triangle_counts``,
    ``triangle_counts_from_edges`` and ``clustering_coefficient``
    (staged or unstaged triangle list); ``_oriented_edges`` reuses
    ``_degrees``.

- **One per-round cut rule.** A superstep's state that the next step
  reads more than once (the Bellman-Ford distance table, the k-core
  survivors, the HITS half-steps, the pivot-BFS table) is cut each
  round with a lazy ``localCheckpoint(eager=False)``: it materializes
  inside the consuming action's first pass, so a round costs no
  driver-synchronous job, while the plan stays one join + one agg per
  round instead of doubling. State read once (PageRank's ranks, a
  final round read only by the returned frame) is not cut. The k-truss
  peel alone cuts eagerly: its later rounds filter, semi-join and
  union the same tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._staging import stage as _stage

#: rank scale (millionths), damping as integer percent, supersteps.
PR_SCALE = 1_000_000
PR_DAMP_PCT = 85
PR_ITERATIONS = 3


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct directed co-purchase edges: (a, b) iff parts a and b
    appear in the same order, a != b (both directions present)."""
    left = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("a")
    )
    right = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("b")
    )
    return (
        left.join(right, "ok")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )


#: distinct directed co-purchase edge list per lineitem DataFrame,
#: session-staged — shared by PageRank (both edge directions) and
#: triangle counting (the a<b orientation is a cheap filter of the
#: stage). Without it every consumer re-runs the orderkey self-join +
#: distinct — by far the heaviest stage of either graph query.
def _edges_staged(lineitem: DataFrame) -> DataFrame:
    return _stage(
        "copurchase_edges", lineitem, lambda: copurchase_edges(lineitem)
    )


def _pagerank(
    lineitem: DataFrame, iterations: int, is_seed
) -> DataFrame:
    """The PageRank kernel shared by ``pagerank_products`` and
    ``personalized_pagerank``: integer ranks (node, rank) after
    ``iterations`` supersteps. ``is_seed(node_col)`` is a boolean
    Column: seed nodes start at PR_SCALE and take the restart mass
    base = 15% of PR_SCALE each round, every other node starts at 0
    and takes none. Each superstep is one join + one hash-agg on the
    node key; the rank table is read once per round, so no round is
    cut."""
    edges = _edges_staged(lineitem)
    out_deg = edges.groupBy("a").agg(F.count("*").alias("deg"))
    base = (100 - PR_DAMP_PCT) * PR_SCALE // 100
    ranks = out_deg.select(
        F.col("a").alias("node"),
        F.when(is_seed(F.col("a")), F.lit(PR_SCALE))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("rank"),
    )
    for _ in range(iterations):
        contrib = (
            edges.join(
                ranks.join(out_deg, ranks.node == out_deg.a).select(
                    F.col("node").alias("src"),
                    (F.col("rank") / F.col("deg"))
                    .cast("bigint")
                    .alias("give"),
                ),
                edges.a == F.col("src"),
            )
            .groupBy("b")
            .agg(F.sum("give").alias("incoming"))
        )
        ranks = contrib.select(
            F.col("b").alias("node"),
            (
                F.when(is_seed(F.col("b")), F.lit(base)).otherwise(F.lit(0))
                + (F.col("incoming") * PR_DAMP_PCT / 100).cast("bigint")
            ).alias("rank"),
        )
    return ranks


def pagerank_products(
    lineitem: DataFrame, iterations: int = PR_ITERATIONS
) -> DataFrame:
    """Integer PageRank over the co-purchase graph; returns
    (node, rank_millionths) after ``iterations`` supersteps. Every
    node is a seed: uniform start and restart."""
    ranks = _pagerank(lineitem, iterations, lambda node: F.lit(True))
    return ranks.select("node", F.col("rank").alias("rank_millionths"))


def oracle_pagerank(iterations: int = PR_ITERATIONS) -> str:
    base = (100 - PR_DAMP_PCT) * PR_SCALE // 100
    ctes = [
        """
pr_edges AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey <> l2.l_partkey
),
pr_deg AS (
  SELECT a, CAST(count(*) AS BIGINT) AS deg FROM pr_edges GROUP BY 1
),
pr_r0 AS (
  SELECT a AS node, CAST({scale} AS BIGINT) AS rank FROM pr_deg
)""".format(scale=PR_SCALE)
    ]
    prev = "pr_r0"
    for i in range(1, iterations + 1):
        ctes.append(
            """
pr_r{i} AS (
  SELECT e.b AS node,
         CAST({base} + (sum(CAST(r.rank // d.deg AS BIGINT))
           * {damp}) // 100 AS BIGINT) AS rank
  FROM pr_edges e
  JOIN {prev} r ON e.a = r.node
  JOIN pr_deg d ON e.a = d.a
  GROUP BY 1
)""".format(i=i, base=base, damp=PR_DAMP_PCT, prev=prev)
        )
        prev = f"pr_r{i}"
    ctes.append(
        f"""
pagerank_products AS (
  SELECT node, rank AS rank_millionths FROM {prev}
)"""
    )
    return ",".join(ctes)


#: hybrid-orientation skew guard: nodes with undirected degree above
#: this threshold ("hubs") sort AFTER all non-hubs, ordered among
#: themselves by (degree, id); non-hubs keep plain id order. Hub
#: out-degree is then bounded by the hub count and non-hub out-degree
#: by the threshold, so every wedge bucket holds at most
#: max(threshold, #hubs)^2 pairs — no quadratic bucket at a hub, which
#: is the textbook failure of pure id-orientation on skewed graphs.
TRIANGLE_SKEW_DEG_THRESHOLD = 1024

#: key packing (hub_flag << 62 | hub_degree << 31 | id) assumes
#: node ids and degrees below 2^31 — true of every fixture and of
#: partkey-sized id spaces; swap for a struct key if ids outgrow it.
_TRI_KEY_ID_BITS = 31


def _degrees(und: DataFrame) -> DataFrame:
    """(node, degree) of canonical undirected edges (a < b)."""
    return (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )


def _node_triangles(tri: DataFrame, deg: DataFrame) -> DataFrame:
    """(node, n_triangles, degree) for every corner of a triangle list
    (u, v, w) — the per-node count shared by the triangle and
    clustering queries."""
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
        .join(deg, "node")
        .select("node", "n_triangles", "degree")
    )


def _oriented_edges(
    und: DataFrame, skew_threshold: int = TRIANGLE_SKEW_DEG_THRESHOLD
) -> DataFrame:
    """Acyclically orient canonical undirected edges (a < b by id)
    under the hybrid total order; returns (src, dst, kdst) with
    key(src) < key(dst). The hub table is degree-filtered and tiny by
    construction, so both attach joins broadcast — on a hub-free graph
    this degenerates to pure id-orientation at the cost of two
    broadcast probes, none of the full rank-attach shuffles that made
    the always-degree-oriented variant 1.4x slower (measured, round 2
    docstring history)."""
    hubs = _degrees(und).filter(F.col("degree") > skew_threshold)

    def key(node_col: str, hdeg_col: str):
        hub = F.col(hdeg_col).isNotNull()
        return F.when(
            hub,
            F.lit(1 << 62)
            + F.col(hdeg_col) * F.lit(1 << _TRI_KEY_ID_BITS)
            + F.col(node_col),
        ).otherwise(F.col(node_col))

    e = (
        und.join(
            F.broadcast(
                hubs.select(
                    F.col("node").alias("a"),
                    F.col("degree").alias("hdeg_a"),
                )
            ),
            "a",
            "left",
        )
        .join(
            F.broadcast(
                hubs.select(
                    F.col("node").alias("b"),
                    F.col("degree").alias("hdeg_b"),
                )
            ),
            "b",
            "left",
        )
        .select(
            F.col("a"),
            F.col("b"),
            key("a", "hdeg_a").alias("ka"),
            key("b", "hdeg_b").alias("kb"),
        )
    )
    fwd = F.col("ka") < F.col("kb")
    return e.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("kb")).otherwise(F.col("ka")).alias("kdst"),
    )


def triangle_counts_from_edges(
    und: DataFrame, skew_threshold: int = TRIANGLE_SKEW_DEG_THRESHOLD
) -> DataFrame:
    """Triangle counting over canonical undirected edges (a < b):
    per-node triangle participation plus degree.

    Hybrid-oriented lowest-corner enumeration: edges are acyclically
    oriented by the ``_oriented_edges`` total order, wedges form at
    each edge's SOURCE corner (out-neighbor pairs, ordered by dst key),
    and a third equi-join closes them. Every triangle {x,y,z} with
    key(x)<key(y)<key(z) appears exactly once as the wedge (y,z) at x
    closed by the oriented edge y->z. The triangle set is
    orientation-invariant, so the DuckDB oracle keeps plain id
    orientation.

    Scale: the wedge join buckets on src, so bucket size is
    out-degree^2 <= max(skew_threshold, #hubs)^2 — data-independent;
    a social-graph hub with 10^6 neighbors sorts last, gets
    out-degree <= #hubs, and contributes LINEAR work instead of the
    10^12-pair bucket pure id-orientation would build. All three
    steps stay equi-joins (hash joins under AQE skew splitting).
    """
    return _node_triangles(_triangles(und, skew_threshold), _degrees(und))


def _triangles(
    und: DataFrame,
    skew_threshold: int = TRIANGLE_SKEW_DEG_THRESHOLD,
) -> DataFrame:
    """Oriented triangle list (u, v, w), each triangle exactly once —
    the wedge-closure enumeration shared by per-node counting and the
    k-truss credit table."""
    out = _oriented_edges(und, skew_threshold)
    e1 = out.select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        F.col("kdst").alias("kv"),
    )
    e2 = out.select(
        F.col("src").alias("u"),
        F.col("dst").alias("w"),
        F.col("kdst").alias("kw"),
    )
    wedges = e1.join(e2, "u").filter(F.col("kv") < F.col("kw"))
    return wedges.join(
        out.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
    ).select("u", "v", "w")


#: staged triangle list per lineitem — the wedge-closure join is the
#: heaviest graph stage after edge construction, and BOTH
#: `graph_triangles` and `graph_ktruss` consume its output; staging it
#: makes the second consumer in a session pay only an explode + agg.
def _triangles_staged(lineitem: DataFrame) -> DataFrame:
    return _stage(
        "triangles", lineitem,
        lambda: _triangles(
            _edges_staged(lineitem).filter(F.col("a") < F.col("b"))
        ),
    )


def triangle_counts(lineitem: DataFrame) -> DataFrame:
    """Triangle counting on the co-purchase graph — see
    ``triangle_counts_from_edges`` for the enumeration and the skew
    guard. Both the canonical edge list AND the triangle list are
    session-staged (`_edges_staged` / `_triangles_staged`), so in a
    session that also peels the k-truss the wedge closure runs
    once."""
    und = _edges_staged(lineitem).filter(F.col("a") < F.col("b"))
    return _node_triangles(_triangles_staged(lineitem), _degrees(und))


ORACLE_TRIANGLE_COUNTS = """
tc_edges AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey <> l2.l_partkey
),
tc_und AS (
  SELECT a, b FROM tc_edges WHERE a < b
),
tc_tri AS (
  SELECT ab.a, ab.b, bc.b AS c
  FROM tc_und ab
  JOIN tc_und bc ON ab.b = bc.a
  JOIN tc_und ac ON ac.a = ab.a AND ac.b = bc.b
),
tc_nodes AS (
  SELECT node, count(*) AS n_triangles
  FROM (SELECT a AS node FROM tc_tri
        UNION ALL SELECT b FROM tc_tri
        UNION ALL SELECT c FROM tc_tri)
  GROUP BY 1
),
tc_deg AS (
  SELECT node, count(*) AS degree
  FROM (SELECT a AS node FROM tc_und
        UNION ALL SELECT b FROM tc_und)
  GROUP BY 1
),
triangle_counts AS (
  SELECT n.node, n.n_triangles, d.degree
  FROM tc_nodes n JOIN tc_deg d USING (node)
)
"""


# ---------------------------------------------------------------------------
# multi-source BFS hop distances
# ---------------------------------------------------------------------------

BFS_SEEDS = 3
BFS_HOPS = 4


def _bellman_ford(edges: DataFrame, rounds: int, out: str) -> DataFrame:
    """The fixed-round Bellman-Ford kernel shared by ``bfs_distances``
    (weight 1) and ``sssp_weighted`` (the price gap): distances over
    weighted edges (a, b, w) from the BFS_SEEDS lowest-id nodes (a
    distributed TakeOrdered of 3 rows), exact for every path within
    ``rounds`` edges. Returns (node, ``out``) for every node reached;
    the distance has the type of ``w``.

    Per superstep ONE equi-join relaxes every edge against the
    distance table and ONE min-agg on the node key re-tightens it;
    both partition on the node key.
    """
    nodes = edges.select(F.col("a").alias("node")).distinct()
    dist = nodes.orderBy("node").limit(BFS_SEEDS).select(
        "node", F.lit(0).cast(dict(edges.dtypes)["w"]).alias(out)
    )
    # r10 (guide §2.4/§5): dist is consumed TWICE per round (the relax
    # join and the re-tighten union), so the lazy chain doubled the
    # inlined prefix every round — 92 Exchanges in the captured SSSP
    # before-plan for 4 rounds. dist is NODE-grain (bounded by the
    # part vocabulary), so a per-round checkpoint caps the plan at one
    # join+min-agg per round; the final round stays uncut (single
    # consumer — the returned frame).
    for rnd in range(rounds):
        relax = edges.join(
            dist.select(F.col("node").alias("a"), out), "a"
        ).select(
            F.col("b").alias("node"),
            (F.col(out) + F.col("w")).alias(out),
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("node")
            .agg(F.min(out).alias(out))
        )
        if rnd < rounds - 1:
            # lazy: materializes once inside the final action's first
            # pass (no per-round driver-synchronous job — the eager
            # variant measured SLOWER, 3.7 -> 4.7 s, because 3 extra
            # small jobs outweighed the recompute they saved)
            dist = dist.localCheckpoint(eager=False)
    return dist


def bfs_distances(
    lineitem: DataFrame, hops: int = BFS_HOPS
) -> DataFrame:
    """Multi-source BFS over the co-purchase graph: hop distance from
    the BFS_SEEDS lowest-id products to every product within ``hops``
    supersteps (unreached nodes are absent) — the traversal primitive
    under "within N recommendation hops" queries.

    ``_bellman_ford`` with every edge weighing 1: fixed unrolled
    supersteps, integer distances, no driver collect, and the
    distance table cut lazily each round like SSSP's. This
    full-relaxation form re-joins the whole distance table each round
    (correct and simplest for fixed small ``hops``); the production
    refinement for deep traversals is delta-frontier expansion — join
    only rows whose dist changed last round — which drops superstep
    cost to the frontier size without changing results or the oracle.
    """
    edges = _edges_staged(lineitem).select("a", "b", F.lit(1).alias("w"))
    return _bellman_ford(edges, hops, "dist")


def oracle_bfs_distances(hops: int = BFS_HOPS) -> str:
    ctes = [
        """
bfs_edges AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey <> l2.l_partkey
),
bfs_d0 AS (
  SELECT node, 0 AS dist FROM (
    SELECT DISTINCT a AS node FROM bfs_edges)
  ORDER BY node LIMIT {seeds}
)""".format(seeds=BFS_SEEDS)
    ]
    prev = "bfs_d0"
    for i in range(1, hops + 1):
        ctes.append(
            """
bfs_d{i} AS (
  SELECT node, CAST(min(dist) AS INT) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL
    SELECT e.b AS node, d.dist + 1 AS dist
    FROM bfs_edges e JOIN {prev} d ON e.a = d.node
  ) GROUP BY 1
)""".format(i=i, prev=prev)
        )
        prev = f"bfs_d{i}"
    ctes.append(
        f"""
bfs_distances AS (SELECT node, dist FROM {prev})"""
    )
    return ",".join(ctes)


#: weighted-SSSP rounds (Bellman-Ford relaxations): distances are
#: exact within SSSP_ROUNDS hops — the same fixed-superstep stance as
#: BFS_HOPS, unrolled identically in the oracle.
SSSP_ROUNDS = 4


def sssp_weighted(
    lineitem: DataFrame, part: DataFrame, rounds: int = SSSP_ROUNDS
) -> DataFrame:
    """Weighted single-source(-set) shortest paths over the
    co-purchase graph — the weighted complement to ``bfs_distances``:
    edge cost is the PRICE GAP between the two parts (1 + |retail
    price difference| in cents, integer-exact from the part dim), so
    the distance reads "cheapest sequence of natural substitutions
    from a seed product", the graph form of the substitution ladder.

    ``_bellman_ford`` with the price gap as the weight: integer
    arithmetic end-to-end, unrolled identically in the DuckDB oracle.
    Distances are exact for all paths within ``rounds`` edges; seeds
    are the BFS_SEEDS lowest-id products.

    Scale: the weighted edge list attaches prices by TWO broadcast
    joins of the part dim onto the session-staged edges, then
    localCheckpoints (referenced every round). Each round shuffles on
    the node key only — the relax join and the min-agg share that
    partitioning, and delta-frontier expansion (relax only improved
    rows) is the same drop-in refinement documented on BFS.

    Output: (node, dist_cents) for every node reached within
    ``rounds`` hops.
    """
    prices = part.select(
        F.col("p_partkey"),
        F.round(F.col("p_retailprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
    )
    edges = (
        _edges_staged(lineitem)
        .join(
            F.broadcast(
                prices.select(
                    F.col("p_partkey").alias("a"),
                    F.col("cents").alias("ca"),
                )
            ),
            "a",
        )
        .join(
            F.broadcast(
                prices.select(
                    F.col("p_partkey").alias("b"),
                    F.col("cents").alias("cb"),
                )
            ),
            "b",
        )
        .select(
            "a",
            "b",
            (
                F.lit(1)
                + F.abs(F.col("ca") - F.col("cb"))
            ).cast("bigint").alias("w"),
        )
        # lazy (r10): referenced every round, but an EAGER checkpoint
        # here is a driver-sync job per call; materializing inside the
        # action's first pass costs the same write once and nothing
        # when the query result itself is consumed once.
        .localCheckpoint(eager=False)
    )
    return _bellman_ford(edges, rounds, "dist_cents")


def oracle_sssp_weighted(rounds: int = SSSP_ROUNDS) -> str:
    ctes = [
        """
sp_edges AS MATERIALIZED (
  SELECT e.a, e.b,
         CAST(1 + abs(pa.c - pb.c) AS BIGINT) AS w
  FROM (
    SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
    FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
    WHERE l1.l_partkey <> l2.l_partkey
  ) e
  JOIN (SELECT p_partkey,
               CAST(round(p_retailprice * 100, 0) AS BIGINT) AS c
        FROM part) pa ON e.a = pa.p_partkey
  JOIN (SELECT p_partkey,
               CAST(round(p_retailprice * 100, 0) AS BIGINT) AS c
        FROM part) pb ON e.b = pb.p_partkey
),
sp_d0 AS (
  SELECT node, CAST(0 AS BIGINT) AS dist_cents FROM (
    SELECT DISTINCT a AS node FROM sp_edges)
  ORDER BY node LIMIT {seeds}
)""".format(seeds=BFS_SEEDS)
    ]
    prev = "sp_d0"
    for i in range(1, rounds + 1):
        ctes.append(
            """
sp_d{i} AS MATERIALIZED (
  SELECT node, CAST(min(dist_cents) AS BIGINT) AS dist_cents FROM (
    SELECT node, dist_cents FROM {prev}
    UNION ALL
    SELECT e.b AS node, d.dist_cents + e.w AS dist_cents
    FROM sp_edges e JOIN {prev} d ON e.a = d.node
  ) GROUP BY 1
)""".format(i=i, prev=prev)
        )
        prev = f"sp_d{i}"
    ctes.append(
        f"""
sssp_weighted AS (SELECT node, dist_cents FROM {prev})"""
    )
    return ",".join(ctes)


# ---------------------------------------------------------------------------
# pivot-sampled approximate betweenness (Brandes dependency accumulation)
# ---------------------------------------------------------------------------

#: betweenness pivots: deterministic md5-ordered node sample. Exact
#: betweenness needs all |V| sources (all-pairs — rejected in the idea
#: ledger); pivot sampling (Brandes & Pich 2007) estimates it from K
#: sources, and md5 ordering makes the "random" sample engine-portable.
#:
#: SCALING POLICY (r5 verdict #3 — how K must grow, and when the
#: stability eval mandates raising it):
#:
#: - Growth law: K = max(4, ceil(4 * log2 |V|)) — the additive-error
#:   concentration of pivot sampling is ~sqrt(log|V| / K) (Hoeffding
#:   over the per-pivot dependency contributions, Brandes & Pich
#:   2007; Riondato & Kornaropoulos 2014 give the matching VC bound),
#:   so logarithmic growth in |V| holds the error constant. K=4 is a
#:   FIXTURE setting (|V| ~ 2e3); at 100x (|V| ~ 2e5) the policy says
#:   K ~ 70, still a constant factor on the K x |V| state.
#: - Trust floors, measured by `betweenness_stability_eval` (two
#:   disjoint K-pivot runs): the top-k ranking is actionable iff
#:   jaccard_topk >= 0.5. Below the floor, DOUBLE K and re-evaluate;
#:   if doubling K twice does not move jaccard_topk, the spectrum
#:   itself is flat (no brokerage structure — every node is equally
#:   "between") and no K makes the top-k stable: treat the scores as
#:   non-rankable rather than raising K further. pearson_r is the
#:   secondary magnitude diagnostic — meaningful only when n_common
#:   is large AND the spectrum is non-flat; it is deliberately NOT a
#:   gate (on a flat spectrum it measures sampling noise).
#: - The TPC-H-ish fixtures are the flat case by construction
#:   (lineitem part pairs are uniform random, so the co-purchase
#:   graph is Erdos-Renyi-like): the eval reports jaccard_topk ~0 at
#:   K=4..32 — the honest "do not rank on this" answer, pinned by
#:   tests/test_round6_fixes.py on both sides of the floor (a
#:   bridge-structured graph clears it; the fixture graph does not).
BETW_PIVOTS = 4
#: forward/backward supersteps: dependency within BETW_HOPS hops of a
#: pivot — the same fixed-superstep stance as BFS_HOPS/SSSP_ROUNDS,
#: unrolled identically in the oracle.
BETW_HOPS = 3

#: the stability-eval trust floor: act on the top-k betweenness
#: ranking only when the two disjoint pivot runs' top lists overlap
#: at jaccard_topk >= this value (see the BETW_PIVOTS policy above).
BETW_JACCARD_FLOOR = 0.5


def recommended_pivots(n_nodes: int) -> int:
    """The BETW_PIVOTS growth law as code: K = max(4, ceil(4 *
    log2 |V|)) — logarithmic in graph size so the sqrt(log|V|/K)
    sampling error stays constant while the K x |V| state stays a
    constant factor over single-source BFS. The stability eval's
    jaccard floor decides whether the policy K is sufficient on a
    given graph (and whether ANY K is — flat spectra are
    non-rankable; see the BETW_PIVOTS docstring)."""
    import math

    if n_nodes < 2:
        return 4
    return max(4, math.ceil(4 * math.log2(n_nodes)))


#: pivot-BFS state per (lineitem, pivots, hops) — the
#: (s, node, dist, sigma) table shared by betweenness, closeness/
#: harmonic centrality, and the diameter estimate, session-staged so
#: the forward supersteps (each checkpointed) run once per session.
def _pivot_bfs_staged(
    lineitem: DataFrame, pivots: int, hops: int
) -> DataFrame:
    return _stage(
        "pivot_bfs", lineitem, lambda: _pivot_bfs(lineitem, pivots, hops),
        pivots, hops, checkpoint=False,
    )


#: final node-grain betweenness score table per (lineitem, pivots,
#: hops) — the BACKWARD Brandes accumulation is also shared (r5
#: verdict #1): `graph_betweenness` and the stability eval's set A are
#: the same estimator run, so the delta accumulation runs once per
#: session instead of once per consumer.
def _betweenness_staged(
    lineitem: DataFrame, pivots: int, hops: int
) -> DataFrame:
    return _stage(
        "betweenness", lineitem,
        lambda: _betweenness_from_bfs(
            _edges_staged(lineitem),
            _pivot_bfs_staged(lineitem, pivots, hops),
            hops,
        ),
        pivots, hops,
    )


def _pivot_bfs(
    lineitem: DataFrame, pivots: int, hops: int
) -> DataFrame:
    """Forward Brandes phase: multi-pivot BFS with exact BIGINT
    shortest-path counts. Returns (s, node, dist, sigma) for every
    node within ``hops`` of each of the ``pivots`` md5-sampled
    sources. Each superstep is one frontier equi-join + one
    full-outer combine, both partitioned on (s, node); state is
    K x |V| rows, localCheckpointed per round (referenced twice by
    the next round — the beam-search lineage rule)."""
    edges = _edges_staged(lineitem)
    nodes = edges.select(F.col("a").alias("node")).distinct()
    piv = (
        nodes.orderBy(F.md5(F.col("node").cast("string")), "node")
        .limit(pivots)
        .select(F.col("node").alias("s"))
    )
    return _pivot_bfs_from(edges, piv, hops)


def _pivot_bfs_from(
    edges: DataFrame, piv: DataFrame, hops: int
) -> DataFrame:
    """Forward supersteps from an explicit pivot frame (column ``s``)
    — the kernel behind `_pivot_bfs` and the stability eval's
    disjoint pivot sets."""
    dist = piv.select(
        "s",
        F.col("s").alias("node"),
        F.lit(0).alias("dist"),
        F.lit(1).cast("bigint").alias("sigma"),
    ).localCheckpoint(eager=False)
    for r in range(1, hops + 1):
        front = dist.filter(F.col("dist") == r - 1).select(
            "s", F.col("node").alias("a"), "sigma"
        )
        # the frontier is the hinted build side: unhinted, AQE
        # broadcast one side on one issue of a query and the other on
        # the next, and the flip changed the generated class
        cand = (
            edges.join(front.hint("shuffle_hash"), "a")
            .select("s", F.col("b").alias("node"), "sigma")
            .groupBy("s", "node")
            .agg(F.sum("sigma").alias("add"))
        )
        dist = (
            dist.join(cand, ["s", "node"], "full")
            .select(
                "s",
                "node",
                F.coalesce(F.col("dist"), F.lit(r)).alias("dist"),
                F.coalesce(F.col("sigma"), F.col("add")).alias("sigma"),
            )
            # lazy (r10): materializes once inside the consuming
            # action; the eager per-round variant cost a driver-sync
            # job per superstep (guide SS1.2)
            .localCheckpoint(eager=False)
        )
    return dist


def betweenness_approx(
    lineitem: DataFrame,
    pivots: int = BETW_PIVOTS,
    hops: int = BETW_HOPS,
) -> DataFrame:
    """Pivot-sampled approximate betweenness centrality over the
    co-purchase graph — Brandes' algorithm (forward BFS with
    shortest-path counts, backward dependency accumulation) run from
    ``pivots`` md5-sampled sources, truncated at ``hops`` — which
    products sit ON the shortest co-purchase routes, the brokerage
    complement to PageRank's popularity. Reference scope: the
    notebook never ranks paths; this is the [EXT] graph-analytics
    capability (cf. F.py:1-399 which has no graph surface at all).

    Engine-portable exactness: sigma (shortest-path counts) are pure
    BIGINT; each backward level's dependency delta_l(v) =
    sum_w sigma_v/sigma_w * (1 + delta_{l+1}(w)) is rounded to 9 dp
    PER LEVEL in both engines (sum fold-order ulp is 1e-15-relative,
    absorbed at 9 dp; the repo float rule), and the output rounds at
    6. Pivot selection is a TakeOrdered of ``pivots`` rows on
    md5(node) — no full sort, and DuckDB's md5 hex matches Spark's.

    Scale: forward state is (pivot, node) — K x |V| rows, each
    superstep one equi-join + one full-outer combine, both
    partitioned on (s, node); backward levels join the level-l slice
    with edges and the level-l+1 slice — bounded by K x |E| rows per
    level with K a constant. Every round localCheckpoints its
    K x |V|-bounded state (referenced twice next round — the beam-
    search lineage lesson). No window anywhere.

    Output per reached non-pivot node: node, n_pivots (pivots whose
    shortest-path DAG passes through it), betweenness (round 6).
    """
    return _betweenness_staged(lineitem, pivots, hops)


def _betweenness_from_bfs(
    edges: DataFrame, dist: DataFrame, hops: int
) -> DataFrame:
    """Backward Brandes accumulation over a prepared (s, node, dist,
    sigma) table — shared by `betweenness_approx` and the pivot-set
    stability eval."""
    delta_prev = None
    level_frames = []
    for lvl in range(hops - 1, -1, -1):
        succ = dist.filter(F.col("dist") == lvl + 1).select(
            "s",
            F.col("node").alias("b"),
            F.col("sigma").alias("sigma_w"),
        )
        if delta_prev is not None:
            succ = succ.join(
                delta_prev.select(
                    "s",
                    F.col("node").alias("b"),
                    F.col("delta").alias("delta_w"),
                ),
                ["s", "b"],
                "left",
            )
        else:
            succ = succ.withColumn(
                "delta_w", F.lit(None).cast("double")
            )
        cur = dist.filter(F.col("dist") == lvl).select(
            "s", F.col("node").alias("a"), "sigma"
        )
        # build sides hinted, as in `_pivot_bfs_from`
        contrib = (
            cur.hint("shuffle_hash")
            .join(edges, "a")
            .join(succ.hint("shuffle_hash"), ["s", "b"])
            .groupBy("s", F.col("a").alias("node"))
            .agg(
                F.round(
                    F.sum(
                        F.col("sigma").cast("double")
                        / F.col("sigma_w")
                        * (
                            F.lit(1.0)
                            + F.coalesce(
                                F.col("delta_w"), F.lit(0.0)
                            )
                        )
                    ),
                    9,
                ).alias("delta")
            )
        )
        delta_prev = contrib.localCheckpoint(eager=False)  # lazy, r10
        level_frames.append(delta_prev)
    allv = level_frames[0]
    for fr in level_frames[1:]:
        allv = allv.unionByName(fr)
    return (
        allv.filter(F.col("node") != F.col("s"))
        .groupBy("node")
        .agg(
            F.count("*").cast("bigint").alias("n_pivots"),
            F.round(F.sum("delta"), 6).alias("betweenness"),
        )
    )


def _oracle_pivot_bfs(
    prefix: str,
    pivots: int,
    hops: int,
    offset: int = 0,
    edges_src: str | None = None,
) -> tuple[list[str], str]:
    """Unrolled forward-BFS CTEs (edges, pivot seed, hops rounds of
    the sigma-carrying full-outer combine) under ``prefix`` — shared
    by the betweenness / closeness / diameter / stability oracles.
    ``offset`` skips the first N md5-ordered pivots (disjoint pivot
    sets); ``edges_src`` reuses another prefix's edge CTE. Returns
    (cte_fragments, final_table_name)."""
    edges_cte = (
        """
{p}_edges AS MATERIALIZED (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey <> l2.l_partkey
)""".format(p=prefix)
        if edges_src is None
        else """
{p}_edges AS (SELECT a, b FROM {src})""".format(p=prefix, src=edges_src)
    )
    ctes = [
        edges_cte
        + """,
{p}_f0 AS (
  SELECT node AS s, node, 0 AS dist, CAST(1 AS BIGINT) AS sigma
  FROM (SELECT DISTINCT a AS node FROM {p}_edges)
  ORDER BY md5(CAST(node AS VARCHAR)), node
  LIMIT {pivots} OFFSET {offset}
)""".format(p=prefix, pivots=pivots, offset=offset)
    ]
    prev = f"{prefix}_f0"
    for r in range(1, hops + 1):
        ctes.append(
            """
{p}_f{r} AS MATERIALIZED (
  SELECT coalesce(p.s, c.s) AS s,
         coalesce(p.node, c.node) AS node,
         CAST(coalesce(p.dist, {r}) AS INT) AS dist,
         CAST(coalesce(p.sigma, c.sadd) AS BIGINT) AS sigma
  FROM {prev} p
  FULL JOIN (
    SELECT f.s, e.b AS node, CAST(sum(f.sigma) AS BIGINT) AS sadd
    FROM {prev} f
    JOIN {p}_edges e ON f.node = e.a
    WHERE f.dist = {rm1}
    GROUP BY 1, 2
  ) c ON p.s = c.s AND p.node = c.node
)""".format(p=prefix, r=r, rm1=r - 1, prev=prev)
        )
        prev = f"{prefix}_f{r}"
    return ctes, prev


def _oracle_backward(
    prefix: str, fin: str, hops: int, out_name: str
) -> list[str]:
    """Unrolled backward dependency-accumulation CTEs over a forward
    table ``fin`` (from ``_oracle_pivot_bfs`` with the same prefix),
    ending in ``out_name`` (node, n_pivots, betweenness)."""
    ctes = []
    prev_b = None
    for lvl in range(hops - 1, -1, -1):
        dj = (
            "LEFT JOIN {p}_b{nxt} d ON d.s = w.s"
            " AND d.node = w.node".format(p=prefix, nxt=lvl + 1)
            if prev_b is not None
            else ""
        )
        dexpr = (
            "coalesce(d.delta, CAST(0.0 AS DOUBLE))"
            if prev_b is not None
            else "CAST(0.0 AS DOUBLE)"
        )
        ctes.append(
            """
{p}_b{lvl} AS MATERIALIZED (
  SELECT v.s, v.node,
         round(sum(CAST(v.sigma AS DOUBLE) / w.sigma
               * (CAST(1.0 AS DOUBLE) + {dexpr})), 9) AS delta
  FROM {fin} v
  JOIN {p}_edges e ON v.node = e.a
  JOIN {fin} w ON w.s = v.s AND w.node = e.b
                AND w.dist = v.dist + 1
  {dj}
  WHERE v.dist = {lvl}
  GROUP BY 1, 2
)""".format(p=prefix, lvl=lvl, fin=fin, dj=dj, dexpr=dexpr)
        )
        prev_b = f"{prefix}_b{lvl}"
    unions = " UNION ALL ".join(
        f"SELECT s, node, delta FROM {prefix}_b{lvl}"
        for lvl in range(hops - 1, -1, -1)
    )
    ctes.append(
        f"""
{out_name} AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_pivots,
         round(sum(delta), 6) AS betweenness
  FROM ({unions}) WHERE node <> s GROUP BY 1
)"""
    )
    return ctes


def oracle_betweenness(
    pivots: int = BETW_PIVOTS, hops: int = BETW_HOPS
) -> str:
    ctes, fin = _oracle_pivot_bfs("bw", pivots, hops)
    ctes += _oracle_backward("bw", fin, hops, "graph_betweenness")
    return ",".join(ctes)


#: stability-eval top-k: agreement is judged on the heads of the two
#: rankings (the rows a downstream consumer would actually act on).
BETW_EVAL_TOPK = 20


def betweenness_stability_eval(
    lineitem: DataFrame,
    pivots: int = BETW_PIVOTS,
    hops: int = BETW_HOPS,
    k: int = BETW_EVAL_TOPK,
) -> DataFrame:
    """Sampling-stability eval for the pivot-sampled betweenness —
    the same estimator-honesty harness the ANN/LSH family carries
    (recall/precision vs truth): run the estimator twice from
    DISJOINT md5-ordered pivot sets (ranks 1..K and K+1..2K) and
    report how much the two independent estimates agree — top-k
    overlap/Jaccard (do the sets of brokerage products match?) and
    the Pearson correlation over commonly-scored nodes (do the
    magnitudes?). Low agreement means "raise BETW_PIVOTS before
    trusting the ranking", measured instead of guessed.

    Both runs share the staged edge list; each is one forward BFS +
    backward accumulation (same bounded shapes as the estimator).
    The joint score table is node-grain, localCheckpointed once; the
    Pearson moments are one agg over it. Output (1 row): n_common,
    top_k, n_top_overlap, jaccard_topk, pearson_r (round 6).
    """
    edges = _edges_staged(lineitem)
    nodes = edges.select(F.col("a").alias("node")).distinct()
    ordered = nodes.orderBy(
        F.md5(F.col("node").cast("string")), "node"
    )
    pb = (
        ordered.offset(pivots)
        .limit(pivots)
        .select(F.col("node").alias("s"))
    )
    # set A is exactly the estimator's own run — ride the session-
    # staged SCORE table (forward BFS and backward accumulation both
    # run once per session; r5 verdict #1), already checkpointed.
    ba = _betweenness_staged(lineitem, pivots, hops).select(
        "node", F.col("betweenness").alias("x")
    )
    bb = _betweenness_from_bfs(
        edges, _pivot_bfs_from(edges, pb, hops), hops
    ).select("node", F.col("betweenness").alias("y"))
    bb = bb.localCheckpoint(eager=False)  # lazy, r10
    # build side hinted, as in `_pivot_bfs_from`
    both = ba.join(bb.hint("shuffle_hash"), "node")
    topa = ba.orderBy(F.desc("x"), "node").limit(k).select("node")
    topb = bb.orderBy(F.desc("y"), "node").limit(k).select("node")
    # actual list sizes, not the nominal k (r5 advice): on graphs
    # with fewer than k scored nodes 2k-overlap overstates Jaccard.
    ov = (
        topa.join(topb, "node")
        .agg(F.count("*").alias("n_top_overlap"))
        .crossJoin(F.broadcast(topa.agg(F.count("*").alias("n_a"))))
        .crossJoin(F.broadcast(topb.agg(F.count("*").alias("n_b"))))
    )
    st = both.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    varx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    # zero-variance runs have no defined correlation — emit null
    # deliberately (both engines), never divide by zero (r5 advice).
    r = F.when(
        (varx > 0) & (vary > 0),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.sqrt(varx) * F.sqrt(vary)),
    )
    union_sz = (
        F.col("n_a") + F.col("n_b") - F.col("n_top_overlap")
    ).cast("double")
    return st.crossJoin(F.broadcast(ov)).select(
        F.col("n").alias("n_common"),
        F.lit(k).alias("top_k"),
        "n_top_overlap",
        F.round(
            F.when(
                union_sz > 0, F.col("n_top_overlap") / union_sz
            ),
            6,
        ).alias("jaccard_topk"),
        F.round(r, 6).alias("pearson_r"),
    )


def oracle_betweenness_stability(
    pivots: int = BETW_PIVOTS,
    hops: int = BETW_HOPS,
    k: int = BETW_EVAL_TOPK,
) -> str:
    ctes, fin_a = _oracle_pivot_bfs("ba", pivots, hops)
    ctes += _oracle_backward("ba", fin_a, hops, "ba_out")
    ctes_b, fin_b = _oracle_pivot_bfs(
        "bb", pivots, hops, offset=pivots, edges_src="ba_edges"
    )
    ctes += ctes_b
    ctes += _oracle_backward("bb", fin_b, hops, "bb_out")
    ctes.append(
        f"""
be_both AS (
  SELECT a.node, a.betweenness AS x, b.betweenness AS y
  FROM ba_out a JOIN bb_out b USING (node)
),
be_ta AS (
  SELECT node FROM ba_out ORDER BY betweenness DESC, node LIMIT {k}
),
be_tb AS (
  SELECT node FROM bb_out ORDER BY betweenness DESC, node LIMIT {k}
),
be_ov AS (
  SELECT CAST(count(*) AS BIGINT) AS n_top_overlap,
         (SELECT CAST(count(*) AS BIGINT) FROM be_ta) AS n_a,
         (SELECT CAST(count(*) AS BIGINT) FROM be_tb) AS n_b
  FROM be_ta JOIN be_tb USING (node)
),
be_st AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sx2, sum(y * y) AS sy2
  FROM be_both
),
graph_betweenness_stability AS (
  SELECT n AS n_common, CAST({k} AS INT) AS top_k, n_top_overlap,
         round(CASE WHEN n_a + n_b - n_top_overlap > 0
               THEN n_top_overlap
                    / CAST(n_a + n_b - n_top_overlap AS DOUBLE)
               END, 6) AS jaccard_topk,
         round(CASE WHEN n * sx2 - sx * sx > 0
                     AND n * sy2 - sy * sy > 0
               THEN (n * sxy - sx * sy)
                    / (sqrt(n * sx2 - sx * sx)
                       * sqrt(n * sy2 - sy * sy)) END, 6)
           AS pearson_r
  FROM be_st, be_ov
)"""
    )
    return ",".join(ctes)


def closeness_centrality(
    lineitem: DataFrame,
    pivots: int = BETW_PIVOTS,
    hops: int = BETW_HOPS,
) -> DataFrame:
    """Pivot-sampled closeness and harmonic centrality: per node, the
    distance sum / reciprocal-distance sum to the BETW_PIVOTS
    md5-sampled sources within BETW_HOPS — "how near is this product
    to everywhere" (harmonic is the variant that stays defined under
    truncation/disconnection, which is exactly the sampled regime).
    Rides the session-staged `_pivot_bfs` table betweenness already
    computes, so in a session that runs both queries the supersteps
    are paid once; this query itself is ONE filter + ONE hash-agg on
    that K x |V| table.

    dist_sum is exact BIGINT; harmonic sums <= pivots reciprocals
    (round 6); closeness = n_reached/dist_sum rounded at the edge.
    Output: node, n_reached, dist_sum, harmonic, closeness.
    """
    dist = _pivot_bfs_staged(lineitem, pivots, hops)
    return (
        dist.filter(F.col("dist") >= 1)
        .groupBy("node")
        .agg(
            F.count("*").cast("bigint").alias("n_reached"),
            F.sum("dist").cast("bigint").alias("dist_sum"),
            F.round(
                F.sum(F.lit(1.0) / F.col("dist").cast("double")), 6
            ).alias("harmonic"),
            F.round(
                F.count("*").cast("double") / F.sum("dist"), 6
            ).alias("closeness"),
        )
    )


def oracle_closeness(
    pivots: int = BETW_PIVOTS, hops: int = BETW_HOPS
) -> str:
    ctes, fin = _oracle_pivot_bfs("cl", pivots, hops)
    ctes.append(
        f"""
graph_closeness AS (
  SELECT node,
         CAST(count(*) AS BIGINT) AS n_reached,
         CAST(sum(dist) AS BIGINT) AS dist_sum,
         round(sum(CAST(1.0 AS DOUBLE) / dist), 6) AS harmonic,
         round(CAST(count(*) AS DOUBLE) / sum(dist), 6) AS closeness
  FROM {fin} WHERE dist >= 1 GROUP BY 1
)"""
    )
    return ",".join(ctes)


def diameter_estimate(
    lineitem: DataFrame,
    pivots: int = BETW_PIVOTS,
    hops: int = BETW_HOPS,
) -> DataFrame:
    """Effective-diameter estimate from the pivot-BFS distance sample:
    max observed distance, the p90 "effective diameter" (smallest d
    whose cumulative pair share reaches 90%, integer cross-multiply —
    10*cum >= 9*n, no float quantile), and the mean distance — the
    small-world readout (how many co-purchase hops apart the catalog
    is). The per-distance histogram has at most ``hops`` rows, so the
    cumulative is an O(hops^2) self-join on a constant-size table —
    no window, no sort. One row out.
    """
    dist = _pivot_bfs_staged(lineitem, pivots, hops).filter(
        F.col("dist") >= 1
    )
    per_d = dist.groupBy("dist").agg(F.count("*").alias("c"))
    tot = dist.agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("node").alias("n_nodes_reached"),
        F.max("dist").alias("max_dist"),
        F.sum("dist").alias("dist_total"),
    )
    cum = (
        per_d.alias("x")
        .join(
            # broadcast the <= hops-row histogram explicitly: without
            # the hint the planner can only prove a CartesianProduct
            # for the inequality join (the r5 planboard's one
            # error-severity hit), and BNLJ-over-broadcast is the
            # honest shape for a constant-size table
            F.broadcast(per_d.alias("y")),
            F.col("y.dist") <= F.col("x.dist"),
        )
        .groupBy(F.col("x.dist").alias("d"))
        .agg(F.sum("y.c").alias("cum"))
    )
    p90 = (
        cum.crossJoin(F.broadcast(tot.select("n_pairs")))
        .filter(F.col("cum") * 10 >= F.col("n_pairs") * 9)
        .agg(F.min("d").alias("p90_dist"))
    )
    return tot.crossJoin(F.broadcast(p90)).select(
        "n_pairs",
        "n_nodes_reached",
        "max_dist",
        "p90_dist",
        F.round(
            F.col("dist_total").cast("double") / F.col("n_pairs"), 6
        ).alias("mean_dist"),
    )


def oracle_diameter(
    pivots: int = BETW_PIVOTS, hops: int = BETW_HOPS
) -> str:
    ctes, fin = _oracle_pivot_bfs("dm", pivots, hops)
    ctes.append(
        f"""
dm_d AS (
  SELECT dist, CAST(count(*) AS BIGINT) AS c
  FROM {fin} WHERE dist >= 1 GROUP BY 1
),
dm_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(DISTINCT node) AS BIGINT) AS n_nodes_reached,
         CAST(max(dist) AS INT) AS max_dist,
         CAST(sum(dist) AS BIGINT) AS dist_total
  FROM {fin} WHERE dist >= 1
),
dm_cum AS (
  SELECT x.dist AS d, CAST(sum(y.c) AS BIGINT) AS cum
  FROM dm_d x JOIN dm_d y ON y.dist <= x.dist
  GROUP BY 1
),
dm_p90 AS (
  SELECT CAST(min(d) AS INT) AS p90_dist
  FROM dm_cum, dm_tot WHERE cum * 10 >= n_pairs * 9
),
graph_diameter_est AS (
  SELECT t.n_pairs, t.n_nodes_reached, t.max_dist, p.p90_dist,
         round(CAST(t.dist_total AS DOUBLE) / t.n_pairs, 6)
           AS mean_dist
  FROM dm_tot t, dm_p90 p
)"""
    )
    return ",".join(ctes)


# ---------------------------------------------------------------------------
# label-propagation communities
# ---------------------------------------------------------------------------

LPA_ITERATIONS = 3
#: packed-argmax base: must exceed every node id (labels are node
#: ids); 2^31 leaves cnt*M safely inside BIGINT for cnt < 2^32.
LPA_M = 1 << 31


def lpa_communities(
    lineitem: DataFrame, iterations: int = LPA_ITERATIONS
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    co-purchase graph: every node starts as its own community and
    adopts its neighbors' most frequent label each superstep (ties ->
    lowest label, making the update total and engine-portable).

    Distinct from the dedup connected-components operator: LPA finds
    DENSE communities (labels stop propagating across sparse cuts
    once a dense region agrees), not mere reachability. Each
    superstep: one equi-join (edges x labels, both keyed on the node
    id) and TWO hash-aggs — the (max count, min label) argmax is
    packed into one BIGINT key (cnt * M + (M-1-lbl), M > any node
    id), so no window sort exists anywhere; map-side combine does
    the argmax. Fixed supersteps, integer labels: deterministic in
    any engine, unrolled identically in the oracle.
    """
    labels = _lpa_labels_staged(lineitem, iterations)
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("csize"))
    return labels.join(sizes, "lbl").select(
        "node", F.col("lbl").alias("community"), "csize"
    )


#: final LPA label table, session-staged by (lineitem, iterations) —
#: shared by `lpa_communities` and `community_modularity` so the
#: propagation supersteps run ONCE per session (the modularity eval
#: used to pay for them twice, ~6 s at sf0.1).
def _lpa_labels_staged(
    lineitem: DataFrame, iterations: int = LPA_ITERATIONS
) -> DataFrame:
    return _stage(
        "lpa_labels", lineitem, lambda: _lpa_labels(lineitem, iterations),
        iterations,
    )


def _lpa_labels(lineitem: DataFrame, iterations: int) -> DataFrame:
    edges = _edges_staged(lineitem)
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    for _ in range(iterations):
        labels = (
            edges.join(
                labels.select(F.col("node").alias("a"), "lbl"), "a"
            )
            .groupBy(F.col("b").alias("node"), "lbl")
            .agg(F.count("*").alias("cnt"))
            .select(
                "node",
                (
                    F.col("cnt") * F.lit(LPA_M)
                    + (F.lit(LPA_M - 1) - F.col("lbl"))
                ).alias("key"),
            )
            .groupBy("node")
            .agg(F.max("key").alias("key"))
            .select(
                "node",
                (F.lit(LPA_M - 1) - F.col("key") % F.lit(LPA_M)).alias(
                    "lbl"
                ),
            )
        )
    return labels


def oracle_lpa_communities(iterations: int = LPA_ITERATIONS) -> str:
    ctes = [
        """
lpa_edges AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey <> l2.l_partkey
),
lpa_l0 AS (
  SELECT DISTINCT a AS node, a AS lbl FROM lpa_edges
)"""
    ]
    prev = "lpa_l0"
    for i in range(1, iterations + 1):
        ctes.append(
            """
lpa_l{i} AS (
  SELECT node,
         CAST({m} - 1 - CAST(max(key) AS BIGINT) % {m} AS BIGINT)
           AS lbl
  FROM (
    SELECT e.b AS node,
           count(*) * {m} + ({m} - 1 - l.lbl) AS key
    FROM lpa_edges e JOIN {prev} l ON e.a = l.node
    GROUP BY e.b, l.lbl
  ) GROUP BY 1
)""".format(i=i, prev=prev, m=LPA_M)
        )
        prev = f"lpa_l{i}"
    ctes.append(
        f"""
lpa_sizes AS (
  SELECT lbl, CAST(count(*) AS BIGINT) AS csize
  FROM {prev} GROUP BY 1
),
lpa_communities AS (
  SELECT l.node, l.lbl AS community, s.csize
  FROM {prev} l JOIN lpa_sizes s USING (lbl)
)"""
    )
    return ",".join(ctes)


# ---------------------------------------------------------------------------
# item-item neighborhood similarity (collaborative filtering)
# ---------------------------------------------------------------------------

SIM_TOP_K = 5


#: basket-bounded co-occurrence pipeline per lineitem identity, session
#: staged (r10, guide §2.4): `item_similarity` and
#: `rec_coverage_diversity` each rebuilt the identical distinct
#: (order, part) self-join + pair agg + degree joins — the captured
#: rec_coverage before-plan inlines that prefix FOUR times (2213 plan
#: lines). One eager checkpoint of the scored pair table (co-occurring
#: pair grain, the same table the DuckDB oracle MATERIALIZEs) plus the
#: part-grain degree table serves every consumer.
def _cooc_staged(lineitem: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(ords, scored): part order-frequencies and the scored
    co-occurring pair table (p < q, n_common, na, nb, jaccard)."""
    op = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct()
    ords = _stage(
        "cooc_ords", lineitem,
        lambda: op.groupBy("p").agg(F.count("*").alias("n_ord")),
    )
    def _build_scored() -> DataFrame:
        pairs = (
            op.join(
                op.select(F.col("ok"), F.col("p").alias("q")), "ok"
            )
            .filter(F.col("p") < F.col("q"))
            .groupBy("p", "q")
            .agg(F.count("*").alias("n_common"))
        )
        return (
            pairs.join(
                ords.select(F.col("p"), F.col("n_ord").alias("na")), "p"
            )
            .join(
                ords.select(
                    F.col("p").alias("q"), F.col("n_ord").alias("nb")
                ),
                "q",
            )
            .withColumn(
                "jaccard",
                F.round(
                    F.col("n_common")
                    / (F.col("na") + F.col("nb") - F.col("n_common")),
                    6,
                ),
            )
        )

    scored = _stage("cooc_scored", lineitem, _build_scored)
    return ords, scored


def item_similarity(
    lineitem: DataFrame, k: int = SIM_TOP_K
) -> DataFrame:
    """Item-item collaborative similarity (Linden et al. 2003,
    item-to-item CF): Jaccard overlap of the ORDER SETS two parts
    appear in, top-``k`` most similar parts per part — "customers who
    bought a also bought b", scored on the interaction sets
    themselves.

    Cost discipline: co-occurrence counts come from the per-order
    self-join, so candidate-pair work is sum over orders of C(k,2) —
    bounded by basket width, NEVER by node degree (the first cut of
    this operator counted wedges on the derived co-purchase graph:
    sum-of-degree-squared, 16M pairs at sf0.01, and it OOM'd a
    1 GiB driver JVM; basket-bounded counting is ~100x smaller on
    identical data and is how the reference's own frequent-pair
    mining stays cheap). Per-item top-k is a window over an item's
    co-occurrence partners only. Output: item, neighbor, n_common,
    jaccard, rank.
    """
    _, scored = _cooc_staged(lineitem)
    both = scored.select(
        F.col("p").alias("item"), F.col("q").alias("neighbor"),
        "n_common", "jaccard",
    ).unionByName(
        scored.select(
            F.col("q").alias("item"), F.col("p").alias("neighbor"),
            "n_common", "jaccard",
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("jaccard").desc(), "neighbor"
    )
    return (
        both.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("item", "neighbor", "n_common", "jaccard", "rank")
    )


def oracle_item_similarity(k: int = SIM_TOP_K) -> str:
    return f"""
is_op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
),
is_ord AS (
  SELECT p, CAST(count(*) AS BIGINT) AS n_ord FROM is_op GROUP BY 1
),
is_pairs AS (
  SELECT a.p, b.p AS q, CAST(count(*) AS BIGINT) AS n_common
  FROM is_op a JOIN is_op b ON a.ok = b.ok AND a.p < b.p
  GROUP BY 1, 2
),
is_scored AS (
  SELECT w.p, w.q, w.n_common,
         round(w.n_common / (na.n_ord + nb.n_ord - w.n_common), 6)
           AS jaccard
  FROM is_pairs w
  JOIN is_ord na ON na.p = w.p
  JOIN is_ord nb ON nb.p = w.q
),
is_both AS (
  SELECT p AS item, q AS neighbor, n_common, jaccard FROM is_scored
  UNION ALL
  SELECT q, p, n_common, jaccard FROM is_scored
),
item_similarity AS (
  SELECT item, neighbor, n_common, jaccard,
         CAST(row_number() OVER (
           PARTITION BY item ORDER BY jaccard DESC, neighbor) AS INT)
           AS rank
  FROM is_both
  QUALIFY row_number() OVER (
    PARTITION BY item ORDER BY jaccard DESC, neighbor) <= {k}
)
"""


# ---------------------------------------------------------------------------
# held-out recommender evaluation (hit-rate@k)
# ---------------------------------------------------------------------------

SIM_EVAL_FOLDS = 5  # orders with md5(ok) % FOLDS == 0 are held out


def item_sim_holdout_eval(
    lineitem: DataFrame, k: int = SIM_TOP_K
) -> DataFrame:
    """Offline recommender evaluation done properly: the item-item
    Jaccard model is trained on ~80% of ORDERS (md5 split — the same
    deterministic content-hash splitting the corpus samplers use) and
    scored on the held-out orders: for every directed co-occurrence
    (p, q) in a held-out basket, a hit means q appears in p's
    trained top-k — hit-rate@k, the standard recsys offline metric.
    Without the holdout this number is circular (the model is built
    from co-occurrence); with it, cold items correctly score as
    misses.

    Same basket-bounded pair algebra as `item_similarity`; the eval
    join probes the K-rows-per-item model table. Output (1 row):
    k, n_test_pairs, n_hits, hit_rate.
    """
    op = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    ).distinct()
    fold = (
        F.conv(
            F.substring(F.md5(F.col("ok").cast("string")), 1, 13), 16, 10
        ).cast("bigint")
        % SIM_EVAL_FOLDS
    )
    train = op.filter(fold != 0)
    test = op.filter(fold == 0)
    ords = train.groupBy("p").agg(F.count("*").alias("n_ord"))
    pairs = (
        train.join(
            train.select(F.col("ok"), F.col("p").alias("q")), "ok"
        )
        .filter(F.col("p") < F.col("q"))
        .groupBy("p", "q")
        .agg(F.count("*").alias("n_common"))
    )
    scored = (
        pairs.join(
            ords.select(F.col("p"), F.col("n_ord").alias("na")), "p"
        )
        .join(
            ords.select(F.col("p").alias("q"), F.col("n_ord").alias("nb")),
            "q",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ),
        )
    )
    both = scored.select(
        F.col("p").alias("item"), F.col("q").alias("neighbor"), "jaccard"
    ).unionByName(
        scored.select(
            F.col("q").alias("item"), F.col("p").alias("neighbor"),
            "jaccard",
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("jaccard").desc(), "neighbor"
    )
    topk = (
        both.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("item", "neighbor")
    )
    test_pairs = (
        test.join(test.select(F.col("ok"), F.col("p").alias("q")), "ok")
        .filter(F.col("p") != F.col("q"))
        .select(F.col("p").alias("item"), F.col("q").alias("neighbor"))
    )
    n_pairs = test_pairs.count()
    hits = test_pairs.join(topk, ["item", "neighbor"], "leftsemi")
    return hits.agg(
        F.lit(k).alias("k"),
        F.lit(n_pairs).alias("n_test_pairs"),
        F.count("*").alias("n_hits"),
        F.round(F.count("*") / F.lit(float(n_pairs)), 6).alias(
            "hit_rate"
        ),
    )


def oracle_item_sim_holdout(k: int = SIM_TOP_K) -> str:
    return f"""
ev_op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
),
ev_f AS (
  SELECT ok, p,
         CAST(('0x' || substr(md5(CAST(ok AS VARCHAR)), 1, 13))
              AS BIGINT) % {SIM_EVAL_FOLDS} AS fold
  FROM ev_op
),
ev_train AS (SELECT ok, p FROM ev_f WHERE fold <> 0),
ev_test AS (SELECT ok, p FROM ev_f WHERE fold = 0),
ev_ord AS (
  SELECT p, CAST(count(*) AS BIGINT) AS n_ord FROM ev_train GROUP BY 1
),
ev_pairs AS (
  SELECT a.p, b.p AS q, CAST(count(*) AS BIGINT) AS n_common
  FROM ev_train a JOIN ev_train b ON a.ok = b.ok AND a.p < b.p
  GROUP BY 1, 2
),
ev_scored AS (
  SELECT w.p, w.q,
         round(w.n_common / (na.n_ord + nb.n_ord - w.n_common), 6)
           AS jaccard
  FROM ev_pairs w
  JOIN ev_ord na ON na.p = w.p
  JOIN ev_ord nb ON nb.p = w.q
),
ev_both AS (
  SELECT p AS item, q AS neighbor, jaccard FROM ev_scored
  UNION ALL SELECT q, p, jaccard FROM ev_scored
),
ev_topk AS (
  SELECT item, neighbor FROM ev_both
  QUALIFY row_number() OVER (
    PARTITION BY item ORDER BY jaccard DESC, neighbor) <= {k}
),
ev_tp AS (
  SELECT a.p AS item, b.p AS neighbor
  FROM ev_test a JOIN ev_test b ON a.ok = b.ok AND a.p <> b.p
),
item_sim_holdout AS (
  SELECT {k} AS k,
         (SELECT CAST(count(*) AS BIGINT) FROM ev_tp) AS n_test_pairs,
         CAST(count(*) AS BIGINT) AS n_hits,
         round(count(*) / CAST((SELECT count(*) FROM ev_tp) AS DOUBLE),
               6) AS hit_rate
  FROM ev_tp t
  WHERE EXISTS (SELECT 1 FROM ev_topk s
                WHERE s.item = t.item AND s.neighbor = t.neighbor)
)
"""


# ---------------------------------------------------------------------------
# degree distribution + assortativity
# ---------------------------------------------------------------------------


def degree_stats(lineitem: DataFrame) -> DataFrame:
    """Structural readout of the co-purchase graph: log2-bucketed
    degree histogram plus the degree assortativity coefficient
    (Newman 2002) — the Pearson correlation of endpoint degrees over
    all directed edges, the number that says whether hubs attach to
    hubs (r > 0) or to leaves (r < 0). Degrees are integers, so every
    moment is an exact BIGINT and r is one rounded division.

    Reuses the session-staged edge list; two hash-aggs (degrees,
    moments) + one broadcast join. Output rows: ('hist', bucket,
    n_nodes, NULL) per occupied log2 bucket and one
    ('assortativity', NULL, n_edges, r) row.
    """
    edges = _edges_staged(lineitem)
    deg = edges.groupBy("a").agg(F.count("*").alias("deg"))
    hist = (
        deg.select(
            F.floor(F.log2("deg")).cast("bigint").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("hist").alias("stat"),
            "bucket",
            "n",
            F.lit(None).cast("double").alias("value"),
        )
    )
    da = deg.select(F.col("a").alias("a"), F.col("deg").alias("dx"))
    db = deg.select(F.col("a").alias("b"), F.col("deg").alias("dy"))
    m = (
        edges.join(da, "a")
        .join(db, "b")
        .agg(
            F.count("*").alias("n"),
            F.sum("dx").alias("sx"),
            F.sum("dy").alias("sy"),
            F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
            F.sum(F.col("dy") * F.col("dy")).alias("syy"),
            F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        )
        .select(
            F.lit("assortativity").alias("stat"),
            F.lit(None).cast("bigint").alias("bucket"),
            F.col("n"),
            F.round(
                (
                    F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
                ).cast("double")
                / (
                    F.sqrt(
                        (
                            F.col("n") * F.col("sxx")
                            - F.col("sx") * F.col("sx")
                        ).cast("double")
                    )
                    * F.sqrt(
                        (
                            F.col("n") * F.col("syy")
                            - F.col("sy") * F.col("sy")
                        ).cast("double")
                    )
                ),
                6,
            ).alias("value"),
        )
    )
    return hist.unionByName(m)


ORACLE_DEGREE_STATS = """
dg_edges AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey <> l2.l_partkey
),
dg_deg AS (
  SELECT a, CAST(count(*) AS BIGINT) AS deg FROM dg_edges GROUP BY 1
),
dg_hist AS (
  SELECT 'hist' AS stat, CAST(floor(log2(deg)) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS value
  FROM dg_deg GROUP BY 2
),
dg_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x.deg) AS BIGINT) AS sx,
         CAST(sum(y.deg) AS BIGINT) AS sy,
         CAST(sum(x.deg * x.deg) AS BIGINT) AS sxx,
         CAST(sum(y.deg * y.deg) AS BIGINT) AS syy,
         CAST(sum(x.deg * y.deg) AS BIGINT) AS sxy
  FROM dg_edges e
  JOIN dg_deg x ON e.a = x.a
  JOIN dg_deg y ON e.b = y.a
),
degree_stats AS (
  SELECT * FROM dg_hist
  UNION ALL
  SELECT 'assortativity', CAST(NULL AS BIGINT), n,
         round(CAST(n * sxy - sx * sy AS DOUBLE)
               / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
  FROM dg_m
)
"""


# ---------------------------------------------------------------------------
# k-core decomposition (fixed-round peeling)
# ---------------------------------------------------------------------------

#: k-core threshold: nodes must keep >= KCORE_K neighbors inside the
#: surviving subgraph. 96 sits near the fixture's median co-purchase
#: degree (89 at sf0.001, 115 at sf0.01), so peeling is non-trivial at
#: both test scales.
KCORE_K = 96

#: fixed peeling supersteps. Peeling converges in at most |V| rounds
#: but in practice a handful; the engine and the oracle run the SAME
#: fixed count, and the output's ``converged`` flag (no node dropped in
#: the final round) says whether more rounds would change anything.
KCORE_ROUNDS = 4


def k_core_membership(
    lineitem: DataFrame,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
) -> DataFrame:
    """Distributed k-core peeling on the co-purchase graph: repeatedly
    drop nodes whose degree *inside the surviving subgraph* falls below
    ``k``. Returns one row per original node:
    (node, deg0, core_deg, in_core, converged).

    Scale shape ([EXT]; the graph view of the reference's basket
    analysis, F.py:296-396 territory): each round is two semi-joins
    (filter edges to surviving endpoints) + one hash-agg (recount) —
    the Giraph/Pregel peeling schedule with no driver data movement.
    The surviving-node frontier is localCheckpointed per round because
    it is referenced twice (both edge endpoints); without that the
    lineage doubles per round (the plan_lint lesson from the graph-ANN
    beam). At cluster scale the frontier is a staged table and rounds
    continue until a count() fixpoint; here rounds are FIXED so the
    DuckDB oracle (same unrolled schedule, materialized CTEs) is
    hash-exact. All-integer output.
    """
    edges = _edges_staged(lineitem)
    deg0 = edges.groupBy("a").agg(F.count("*").alias("deg0"))
    alive = deg0.filter(F.col("deg0") >= k).select(F.col("a").alias("node"))
    # lazy (r10): each eager per-round checkpoint was a driver-
    # synchronous job; the lazy variant materializes once inside the
    # consuming action (the sssp/hits batch-1 lesson, guide §5).
    alive = alive.localCheckpoint(eager=False)
    last = None
    for _ in range(rounds):
        prev = alive
        ind_deg = (
            edges.join(alive, edges.a == alive.node, "leftsemi")
            .join(
                alive.select(F.col("node").alias("bn")),
                F.col("b") == F.col("bn"),
                "leftsemi",
            )
            .groupBy("a")
            .agg(F.count("*").alias("core_deg"))
        )
        last = ind_deg.localCheckpoint(eager=False)
        alive = (
            last.filter(F.col("core_deg") >= k)
            .select(F.col("a").alias("node"))
        )
    # converged iff round R dropped nobody from the round-(R-1)
    # survivor set `prev` that produced `last`: compare the survivor
    # counts of the last two rounds, as the oracle does (1-row
    # broadcast crossJoin, the engine's standard scalar-attach shape).
    # The hint fixes the build side: left to AQE, either one-row count
    # can be broadcast, and a flip swaps the operands in the generated
    # class, which then compiles again.
    n_alive = alive.agg(F.count("*").alias("n_alive"))
    n_prev = prev.agg(F.count("*").alias("n_prev"))
    conv = n_alive.crossJoin(F.broadcast(n_prev)).select(
        (F.col("n_alive") == F.col("n_prev")).cast("int").alias("converged")
    )
    surv = last.filter(F.col("core_deg") >= k)
    return (
        deg0.join(surv, "a", "left")
        .select(
            F.col("a").alias("node"),
            "deg0",
            F.coalesce(F.col("core_deg"), F.lit(0)).alias("core_deg"),
            F.col("core_deg").isNotNull().cast("int").alias("in_core"),
        )
        .crossJoin(F.broadcast(conv))
    )


def oracle_k_core(
    k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> str:
    """Unrolled peeling schedule; alive_r is AS MATERIALIZED because it
    is referenced by both edge endpoints (inlining would double the
    plan per round)."""
    ctes = [
        """
kc_edges AS MATERIALIZED (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey <> l2.l_partkey
),
kc_deg0 AS MATERIALIZED (
  SELECT a, CAST(count(*) AS BIGINT) AS deg0 FROM kc_edges GROUP BY 1
),
kc_alive0 AS MATERIALIZED (
  SELECT a AS node FROM kc_deg0 WHERE deg0 >= {k}
)""".format(k=k)
    ]
    prev = "kc_alive0"
    for r in range(1, rounds + 1):
        ctes.append(
            """
kc_ind{r} AS MATERIALIZED (
  SELECT e.a, CAST(count(*) AS BIGINT) AS core_deg
  FROM kc_edges e
  JOIN {prev} x ON e.a = x.node
  JOIN {prev} y ON e.b = y.node
  GROUP BY 1
),
kc_alive{r} AS MATERIALIZED (
  SELECT a AS node FROM kc_ind{r} WHERE core_deg >= {k}
)""".format(r=r, prev=prev, k=k)
        )
        prev = f"kc_alive{r}"
    ctes.append(
        """
kc_conv AS (
  SELECT CAST((SELECT count(*) FROM kc_alive{R}) =
              (SELECT count(*) FROM kc_alive{Rm1}) AS INT) AS converged
),
k_core_membership AS (
  SELECT d.a AS node, d.deg0,
         CAST(coalesce(s.core_deg, 0) AS BIGINT) AS core_deg,
         CAST(s.core_deg IS NOT NULL AS INT) AS in_core,
         (SELECT converged FROM kc_conv) AS converged
  FROM kc_deg0 d
  LEFT JOIN (SELECT * FROM kc_ind{R} WHERE core_deg >= {k}) s
    ON d.a = s.a
)""".format(R=rounds, Rm1=rounds - 1, k=k)
    )
    return ",".join(ctes)


# ---------------------------------------------------------------------------
# link prediction: common-neighbor + integer resource-allocation index
# ---------------------------------------------------------------------------

#: wedge-center degree cap for link prediction: wedges through nodes
#: with degree above this are skipped (their per-neighbor contribution
#: 1e6 DIV deg is tiny anyway). Inactive on the fixtures (max degree
#: 206) but bounds every z-bucket to RA_DF_CAP^2 candidate pairs at
#: 100 TB — the same hub discipline as MAX_SHINGLE_DF / the triangle
#: skew guard.
RA_DF_CAP = 1024

#: integer score scale: each common neighbor z contributes
#: 1_000_000 DIV deg(z) (floor division — exact in both engines; a
#: float 1/deg or 1/log(deg) sum would be fold-order sensitive).
RA_SCALE = 1_000_000

#: global top-N candidate links reported.
RA_TOP_N = 100

#: deterministic seed set for per-seed link prediction: partkey
#: divisible by this. Scoping predictions to a seed set is what makes
#: the operator linear: all-pairs RA is sum(deg^2) BY DEFINITION
#: (measured 91 s at sf0.1), while the per-seed wedge volume is the
#: seed fraction of it — the production "recommend new links for
#: THESE nodes" shape.
RA_SEED_MOD = 100

#: predictions kept per seed.
RA_PER_SEED = 5


def _link_scores(
    lineitem: DataFrame, df_cap: int, per_seed: int, give, score: str
) -> DataFrame:
    """The seed-scoped wedge kernel shared by ``link_prediction_ra``
    and ``adamic_adar_prediction``: every common neighbor z of a seed
    (partkey % RA_SEED_MOD == 0) and a non-adjacent candidate adds
    ``give`` — an integer Column over z's degree ``deg`` — to the
    pair's ``score``; the top ``per_seed`` candidates per seed are
    kept. Output: seed, cand, cn, ``score``, rank.

    Centers of degree above ``df_cap`` are skipped, and so are centers
    of degree 1: their one neighbor can only pair with itself, so no
    wedge is lost, and ln(1) = 0 never reaches AA's division.
    """
    edges = _edges_staged(lineitem)
    deg = edges.groupBy("a").agg(F.count("*").alias("deg"))
    nbr = edges.join(
        deg.filter((F.col("deg") <= df_cap) & (F.col("deg") >= 2)), "a"
    ).select(F.col("a").alias("z"), F.col("b").alias("n"), give.alias("give"))
    seed_side = nbr.filter(
        F.col("n") % RA_SEED_MOD == 0
    ).select("z", F.col("n").alias("seed"))
    cand_side = nbr.select("z", F.col("n").alias("cand"), "give")
    wedges = seed_side.join(cand_side, "z").filter(
        F.col("seed") != F.col("cand")
    )
    scored = wedges.groupBy("seed", "cand").agg(
        F.count("*").alias("cn"),
        F.sum("give").alias(score),
    )
    non_adj = scored.join(
        edges,
        (scored.seed == edges.a) & (scored.cand == edges.b),
        "left_anti",
    )
    w = Window.partitionBy("seed").orderBy(
        F.desc(score), F.desc("cn"), F.asc("cand")
    )
    return (
        non_adj.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= per_seed)
        .select("seed", "cand", "cn", score, "rank")
    )


def link_prediction_ra(
    lineitem: DataFrame,
    df_cap: int = RA_DF_CAP,
    per_seed: int = RA_PER_SEED,
) -> DataFrame:
    """Per-seed link prediction on the co-purchase graph: for each
    SEED node (partkey % RA_SEED_MOD == 0) rank the non-adjacent
    candidates by the integer-scaled resource-allocation index
    ra_micros = sum_z 1e6 DIV deg(z) over common neighbors z
    (Zhou/Lu/Zhang's RA — the discretized cousin of Adamic-Adar,
    floor-division sums being hash-exact where 1/log(deg) float sums
    are not), keeping the top ``per_seed`` per seed.

    Scale shape: the wedge join touches only wedges whose LO endpoint
    is a seed, so volume is the seed fraction of sum(deg(z)^2) — the
    all-pairs variant is quadratic by definition (measured 91 s at
    sf0.1 vs ~2 s scoped) and no cap can save it; scoping to the
    nodes you actually want recommendations for is the production
    form. Hub centers above ``df_cap`` are skipped (tiny 1e6 DIV deg
    contributions), bounding every z-bucket. The per-seed window is
    bounded by a seed's 2-hop neighborhood. Runs ``_link_scores``
    with give = 1e6 DIV deg(z).

    Output: seed, cand, cn, ra_micros, rank (rank <= per_seed).
    """
    give = (F.lit(RA_SCALE) / F.col("deg")).cast("bigint")
    return _link_scores(lineitem, df_cap, per_seed, give, "ra_micros")


def oracle_link_prediction_ra(
    df_cap: int = RA_DF_CAP, per_seed: int = RA_PER_SEED
) -> str:
    return """
lp_edges AS MATERIALIZED (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey <> l2.l_partkey
),
lp_deg AS (
  SELECT a, CAST(count(*) AS BIGINT) AS deg FROM lp_edges GROUP BY 1
),
lp_nbr AS MATERIALIZED (
  SELECT e.a AS z, e.b AS n, CAST({scale} // d.deg AS BIGINT) AS give
  FROM lp_edges e JOIN lp_deg d ON e.a = d.a
  WHERE d.deg <= {cap}
),
lp_scored AS (
  SELECT x.n AS seed, y.n AS cand,
         CAST(count(*) AS BIGINT) AS cn,
         CAST(sum(y.give) AS BIGINT) AS ra_micros
  FROM lp_nbr x JOIN lp_nbr y ON x.z = y.z AND x.n <> y.n
  WHERE x.n % {mod} = 0
  GROUP BY 1, 2
),
link_prediction_ra AS (
  SELECT seed, cand, cn, ra_micros, rank FROM (
    SELECT s.seed, s.cand, s.cn, s.ra_micros,
           CAST(row_number() OVER (
             PARTITION BY s.seed
             ORDER BY s.ra_micros DESC, s.cn DESC, s.cand) AS INT)
             AS rank
    FROM lp_scored s
    ANTI JOIN lp_edges e ON s.seed = e.a AND s.cand = e.b
  ) WHERE rank <= {n}
)""".format(scale=RA_SCALE, cap=df_cap, mod=RA_SEED_MOD, n=per_seed)


# ---------------------------------------------------------------------------
# recommendation-list coverage + diversity evaluation
# ---------------------------------------------------------------------------

def rec_coverage_diversity(
    lineitem: DataFrame, k: int = SIM_TOP_K
) -> DataFrame:
    """Beyond-accuracy recommender eval over the item-item top-k
    lists: catalog coverage (what share of the catalog is ever
    recommended — low coverage = popularity lock-in) and intra-list
    similarity (avg pairwise similarity between the items of one
    list — high ILS = redundant recommendations; Ziegler et al.
    2005). The hit-rate eval (`item_sim_holdout_eval`) says the recs
    are RIGHT; this says whether they are also DIVERSE — the pair of
    numbers every production recommender tracks together.

    Pairwise list similarity is integer-exact: sim_micros =
    1e6·|A∩B| DIV |A∪B| from the same basket-bounded co-occurrence
    counts (missing pair = 0), so the ILS average is a division of
    BIGINTs. List pairs are C(k,2) per anchor — bounded by the rec
    width, never by catalog size.

    Output (1 row): n_anchors, catalog_size, n_recommended,
    coverage, n_list_pairs, avg_ils.
    """
    # r10 (guide §2.4): recs (consumed three times below) and the
    # co-occurrence pair/degree tables (previously rebuilt from
    # lineitem although item_similarity had just computed the identical
    # frames) now come from the session-staged pipeline; recs is
    # checkpointed once at top-k grain (n_items x k, bounded by the rec
    # width). catalog_size = |ords| — the same distinct-part set the
    # old separate distinct-scan counted.
    ords, pairs = _cooc_staged(lineitem)
    recs = item_similarity(lineitem, k).localCheckpoint(eager=True)
    catalog = ords.agg(F.count("*").alias("catalog_size"))
    cover = recs.agg(
        F.count_distinct("item").alias("n_anchors"),
        F.count_distinct("neighbor").alias("n_recommended"),
    )
    # pairwise sims inside each list, canonical (lo, hi) pair key
    r1 = recs.select("item", F.col("neighbor").alias("n1"), F.col("rank").alias("r1"))
    r2 = recs.select("item", F.col("neighbor").alias("n2"), F.col("rank").alias("r2"))
    lp = (
        r1.join(r2, "item")
        .filter(F.col("r1") < F.col("r2"))
        .select(
            F.least("n1", "n2").alias("p"),
            F.greatest("n1", "n2").alias("q"),
        )
    )
    sims = (
        lp.join(pairs.select("p", "q", "n_common"), ["p", "q"], "left")
        .join(ords.select(F.col("p"), F.col("n_ord").alias("na")), "p")
        .join(
            ords.select(F.col("p").alias("q"), F.col("n_ord").alias("nb")),
            "q",
        )
        .select(
            (
                F.lit(1_000_000)
                * F.coalesce(F.col("n_common"), F.lit(0))
                / (
                    F.col("na")
                    + F.col("nb")
                    - F.coalesce(F.col("n_common"), F.lit(0))
                )
            )
            .cast("bigint")
            .alias("sim_micros")
        )
    )
    ils = sims.agg(
        F.count("*").alias("n_list_pairs"),
        F.sum("sim_micros").alias("sim_sum"),
    )
    return (
        cover.crossJoin(F.broadcast(catalog))
        .crossJoin(F.broadcast(ils))
        .select(
            "n_anchors",
            "catalog_size",
            "n_recommended",
            F.round(
                F.col("n_recommended") / F.col("catalog_size").cast("double"),
                6,
            ).alias("coverage"),
            "n_list_pairs",
            F.round(
                F.col("sim_sum")
                / (F.lit(1_000_000.0) * F.col("n_list_pairs")),
                6,
            ).alias("avg_ils"),
        )
    )


def oracle_rec_coverage_diversity(k: int = SIM_TOP_K) -> str:
    return f"""
rcd_op AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
),
rcd_ord AS (
  SELECT p, CAST(count(*) AS BIGINT) AS n_ord FROM rcd_op GROUP BY 1
),
rcd_pairs AS MATERIALIZED (
  SELECT a.p, b.p AS q, CAST(count(*) AS BIGINT) AS n_common
  FROM rcd_op a JOIN rcd_op b ON a.ok = b.ok AND a.p < b.p
  GROUP BY 1, 2
),
rcd_scored AS (
  SELECT w.p, w.q, w.n_common,
         round(w.n_common / (na.n_ord + nb.n_ord - w.n_common), 6)
           AS jaccard
  FROM rcd_pairs w
  JOIN rcd_ord na ON na.p = w.p
  JOIN rcd_ord nb ON nb.p = w.q
),
rcd_both AS (
  SELECT p AS item, q AS neighbor, jaccard FROM rcd_scored
  UNION ALL
  SELECT q, p, jaccard FROM rcd_scored
),
rcd_recs AS MATERIALIZED (
  SELECT item, neighbor,
         CAST(row_number() OVER (
           PARTITION BY item ORDER BY jaccard DESC, neighbor) AS INT)
           AS rank
  FROM rcd_both
  QUALIFY row_number() OVER (
    PARTITION BY item ORDER BY jaccard DESC, neighbor) <= {k}
),
rcd_lp AS (
  SELECT least(a.neighbor, b.neighbor) AS p,
         greatest(a.neighbor, b.neighbor) AS q
  FROM rcd_recs a JOIN rcd_recs b
    ON a.item = b.item AND a.rank < b.rank
),
rcd_sims AS (
  SELECT CAST(1000000 * coalesce(c.n_common, 0)
              // (na.n_ord + nb.n_ord - coalesce(c.n_common, 0))
              AS BIGINT) AS sim_micros
  FROM rcd_lp l
  LEFT JOIN rcd_pairs c ON l.p = c.p AND l.q = c.q
  JOIN rcd_ord na ON na.p = l.p
  JOIN rcd_ord nb ON nb.p = l.q
),
rec_coverage_diversity AS (
  SELECT (SELECT CAST(count(DISTINCT item) AS BIGINT) FROM rcd_recs)
           AS n_anchors,
         (SELECT CAST(count(DISTINCT p) AS BIGINT) FROM rcd_op)
           AS catalog_size,
         (SELECT CAST(count(DISTINCT neighbor) AS BIGINT) FROM rcd_recs)
           AS n_recommended,
         round((SELECT count(DISTINCT neighbor) FROM rcd_recs)
               / CAST((SELECT count(DISTINCT p) FROM rcd_op) AS DOUBLE), 6)
           AS coverage,
         (SELECT CAST(count(*) AS BIGINT) FROM rcd_sims) AS n_list_pairs,
         round((SELECT sum(sim_micros) FROM rcd_sims)
               / (CAST(1000000 AS DOUBLE)
                  * (SELECT count(*) FROM rcd_sims)), 6) AS avg_ils
)
"""


# ---------------------------------------------------------------------------
# k-truss decomposition (fixed-round edge peeling)
# ---------------------------------------------------------------------------

#: truss parameter: surviving edges must sit in >= KTRUSS_K - 2
#: triangles of the surviving subgraph.
KTRUSS_K = 4

#: fixed peeling rounds (same stance as KCORE_ROUNDS: engine and
#: oracle run the SAME unrolled schedule; convergence is a flag, not a
#: loop condition).
KTRUSS_ROUNDS = 2


def _edge_support(
    edges: DataFrame,
    skew_threshold: int = TRIANGLE_SKEW_DEG_THRESHOLD,
) -> DataFrame:
    """Triangle support per canonical (a<b) edge: enumerate each
    triangle ONCE under the `_oriented_edges` hybrid total order
    (the same skew guard `triangle_counts_from_edges` uses), then
    credit its three canonical edges (3-way union, one hash-agg).
    Support is orientation-invariant — the triangle set does not
    depend on how its edges are oriented — so the DuckDB oracle keeps
    plain id orientation and the hash is unchanged.

    Scale: the wedge join buckets on the oriented SOURCE, so bucket
    size is out-degree² ≤ max(skew_threshold, #hubs)² —
    data-independent. The previous unoriented form bucketed on raw
    node id (degree² at a hub) and cost 37 s at sf0.1 across the two
    peeling rounds; oriented it is the same bounded shape as
    `triangle_counts`."""
    return (
        _triangle_credit(edges, skew_threshold)
        .groupBy("a", "b")
        .agg(F.count("*").alias("support"))
    )


def _triangle_credit(
    edges: DataFrame,
    skew_threshold: int = TRIANGLE_SKEW_DEG_THRESHOLD,
) -> DataFrame:
    """Triangle-edge incidence: one row per (triangle, canonical
    edge) — 3 rows per triangle, keyed by the oriented triangle id
    (u, v, w) — the staging table the incremental k-truss peel
    subtracts from (a dead triangle is found by edge semi-join and
    its credits retracted without re-enumerating wedges)."""
    return _credit_from_triangles(_triangles(edges, skew_threshold))


def _credit_from_triangles(tri: DataFrame) -> DataFrame:
    # single-pass credit: explode the three canonical edges per
    # triangle (a 3-way unionAll would re-execute the wedge-closure
    # join once PER BRANCH — measured 3x the enumeration cost).
    return tri.select(
        "u",
        "v",
        "w",
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v").alias("a"),
                    F.greatest("u", "v").alias("b"),
                ),
                F.struct(
                    F.least("u", "w").alias("a"),
                    F.greatest("u", "w").alias("b"),
                ),
                F.struct(
                    F.least("v", "w").alias("a"),
                    F.greatest("v", "w").alias("b"),
                ),
            )
        ).alias("e"),
    ).select("u", "v", "w", "e.a", "e.b")


def ktruss_edges(
    lineitem: DataFrame,
    k: int = KTRUSS_K,
    rounds: int = KTRUSS_ROUNDS,
) -> DataFrame:
    """k-truss decomposition of the co-purchase graph by fixed-round
    edge peeling: repeatedly drop edges supported by fewer than k−2
    triangles OF THE SURVIVING SUBGRAPH — the community-core
    condensation one notch stricter than k-core (every truss edge has
    k−2 common-neighbor witnesses).

    INCREMENTAL peel (r4 verdict #4): wedges are enumerated ONCE.
    Round 1 stages the triangle-edge incidence (`_triangle_credit`, 3
    rows per triangle); each later round subtracts instead of
    recounting — a triangle dies iff it contains a peeled edge (one
    semi-join of the credit table against the just-peeled edge set,
    distinct on the triangle id, anti-joined against the cumulative
    dead set so each triangle's credit is retracted exactly ONCE),
    and a surviving edge's subgraph support is exactly support0 minus
    its credits in dead triangles
    (E_r ⊆ E_0, so every E_r triangle is an E_0 triangle). Both
    probe sides are tiny (peeled edges, then ≤ min_sup·|peeled| dead
    triangle ids), so AQE turns them into broadcast joins; the full
    wedge-closure join — 2× the triangle-enumeration cost at sf0.1 —
    runs once instead of once per round.

    Output: every original canonical edge with its initial support,
    final-round support (0 if peeled), and truss membership —
    all-integer parity with the unrolled materialized-CTE oracle.
    """
    min_sup = k - 2
    edges = (
        _edges_staged(lineitem)
        .filter(F.col("a") < F.col("b"))
        .localCheckpoint(eager=True)
    )
    # credit derives map-only from the SESSION-STAGED triangle list
    # (shared with graph_triangles), so the wedge closure never
    # re-runs for the peel — and needs no checkpoint of its own.
    credit = _credit_from_triangles(_triangles_staged(lineitem))
    sup0 = (
        credit.groupBy("a", "b")
        .agg(F.count("*").alias("support"))
        .localCheckpoint(eager=True)
    )
    cur_sup = sup0
    dead_tris = None
    for r in range(rounds - 1):
        last_round = r == rounds - 2
        # peeled is consumed by exactly ONE semi-join and derives from
        # the checkpointed cur_sup — no checkpoint needed (r9: each
        # eager checkpoint is a driver-synchronous job; guide §1.2).
        peeled = cur_sup.filter(F.col("support") < min_sup).select(
            "a", "b"
        )
        nd = (
            credit.join(peeled, ["a", "b"], "leftsemi")
            .select("u", "v", "w")
            .distinct()
        )
        # NEWLY-dead only (r5 advice): a triangle that contained a
        # round-1 peeled edge is already subtracted from the running
        # support — anti-join the cumulative dead set so each dead
        # triangle's credit is retracted exactly once across rounds.
        if dead_tris is not None:
            nd = nd.join(dead_tris, ["u", "v", "w"], "leftanti")
        # last round: nd feeds only `lost` (the union below is
        # skipped), so it can stay lazy too.
        if not last_round:
            nd = nd.localCheckpoint(eager=True)
        # cumulative dead set: checkpointed per round so the
        # unionByName chain's lineage stays O(1) per round instead of
        # O(rounds) (r6 verdict task 4). First round skips the
        # re-checkpoint — nd is already materialized — and the LAST
        # round skips the union entirely (nothing consumes it).
        if not last_round:
            dead_tris = (
                nd
                if dead_tris is None
                else dead_tris.unionByName(nd).localCheckpoint(
                    eager=True
                )
            )
        lost = (
            credit.join(nd, ["u", "v", "w"], "leftsemi")
            .groupBy("a", "b")
            .agg(F.count("*").alias("lost"))
        )
        cur_sup = (
            cur_sup.filter(F.col("support") >= min_sup)
            .join(lost, ["a", "b"], "left")
            .select(
                "a",
                "b",
                (
                    F.col("support")
                    - F.coalesce(F.col("lost"), F.lit(0))
                ).alias("support"),
            )
        )
        # the final round's support table feeds ONE consumer (the
        # output join) — leave it lazy; earlier rounds feed two
        # filters next round, so materialize.
        if not last_round:
            cur_sup = cur_sup.localCheckpoint(eager=True)
    final = cur_sup.filter(F.col("support") >= min_sup).select(
        "a", "b", F.col("support").alias("support_final")
    )
    return (
        edges.join(
            sup0.select("a", "b", F.col("support").alias("support0")),
            ["a", "b"],
            "left",
        )
        .join(final, ["a", "b"], "left")
        .select(
            "a",
            "b",
            F.coalesce(F.col("support0"), F.lit(0)).alias("support0"),
            F.coalesce(F.col("support_final"), F.lit(0)).alias(
                "support_final"
            ),
            F.col("support_final").isNotNull().cast("int").alias(
                "in_truss"
            ),
        )
    )


def oracle_ktruss(
    k: int = KTRUSS_K, rounds: int = KTRUSS_ROUNDS
) -> str:
    min_sup = k - 2
    sup_tpl = """
kt_sup{r} AS MATERIALIZED (
  SELECT a, b, CAST(count(*) AS BIGINT) AS support
  FROM (
    SELECT t.x AS a, t.y AS b FROM ({tri}) t
    UNION ALL
    SELECT t.x, t.z FROM ({tri}) t
    UNION ALL
    SELECT t.y, t.z FROM ({tri}) t
  )
  GROUP BY 1, 2
)"""
    tri_tpl = (
        "SELECT e1.a AS x, e1.b AS y, e2.b AS z "
        "FROM {src} e1 JOIN {src} e2 ON e1.a = e2.a AND e1.b < e2.b "
        "WHERE EXISTS (SELECT 1 FROM {src} e3 "
        "WHERE e3.a = e1.b AND e3.b = e2.b)"
    )
    ctes = [
        """
kt_e0 AS MATERIALIZED (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey
)"""
    ]
    ctes.append(sup_tpl.format(r=0, tri=tri_tpl.format(src="kt_e0")))
    prev_sup = "kt_sup0"
    for r in range(1, rounds):
        ctes.append(
            """
kt_e{r} AS MATERIALIZED (
  SELECT a, b FROM {prev} WHERE support >= {m}
)""".format(r=r, prev=prev_sup, m=min_sup)
        )
        ctes.append(
            sup_tpl.format(r=r, tri=tri_tpl.format(src=f"kt_e{r}"))
        )
        prev_sup = f"kt_sup{r}"
    ctes.append(
        """
ktruss_edges AS (
  SELECT e.a, e.b,
         CAST(coalesce(s0.support, 0) AS BIGINT) AS support0,
         CAST(coalesce(f.support, 0) AS BIGINT) AS support_final,
         CAST(f.support IS NOT NULL AS INT) AS in_truss
  FROM kt_e0 e
  LEFT JOIN kt_sup0 s0 ON e.a = s0.a AND e.b = s0.b
  LEFT JOIN (SELECT * FROM {prev} WHERE support >= {m}) f
    ON e.a = f.a AND e.b = f.b
)""".format(prev=prev_sup, m=min_sup)
    )
    return ",".join(ctes)


# ---------------------------------------------------------------------------
# HITS hubs/authorities on the customer-part bipartite graph
# ---------------------------------------------------------------------------

#: HITS iterations and integer score scale (millionths — the same
#: fixed-point convention as PageRank's RANK_SCALE).
HITS_ITERS = 2
HITS_SCALE = 1_000_000


def hits_scores(
    orders: DataFrame,
    lineitem: DataFrame,
    iters: int = HITS_ITERS,
) -> DataFrame:
    """HITS (Kleinberg) on the customer->part purchase bipartite
    graph: customers are hubs, parts are authorities — an authority
    is a part bought by strong hubs, a hub a customer who buys strong
    authorities. On a bipartite graph HITS is the natural (and
    non-degenerate) form; on the symmetric co-purchase graph it would
    collapse into eigenvector centrality. The co-purchase PageRank
    answers "what anchors the basket network"; this answers "which
    parts do the heavy multi-category buyers converge on".

    Engine-portable fixed point: scores live in integer millionths;
    each half-step is one equi-join + one sum-agg, then max-
    normalization by INTEGER division (x * SCALE div max) against a
    broadcast 1-row max — no float anywhere (output is integers).
    Normalization is MULTIPLICATION-FREE (x div (max div SCALE), not
    x*SCALE div max) so no intermediate can overflow BIGINT no matter
    how many buyers a part has; max_score lands in [SCALE, 2*SCALE).
    Supersteps are fixed and unrolled identically in the oracle, per
    the PageRank/BFS/SSSP convention.

    Scale: the edge list is |distinct (cust, part)| rows; every
    iteration shuffles it twice on its two key sides — the classic
    alternating bipartite agg. The 1-row max is the only driver-
    independent global, broadcast back. Output per part:
    l_partkey, n_buyers, authority (millionths).
    """
    edges = (
        orders.select(
            F.col("o_orderkey").alias("ok"),
            F.col("o_custkey").alias("cust"),
        )
        .join(
            lineitem.select(
                F.col("l_orderkey").alias("ok"),
                F.col("l_partkey").alias("part"),
            ),
            "ok",
        )
        .select("cust", "part")
        .distinct()
        # lazy (r10): consumed by every half-step, but materialization
        # inside the first pass replaces the per-call driver-sync job
        .localCheckpoint(eager=False)
    )
    idiv = lambda a, b: F.call_function(  # noqa: E731
        "div", a.cast("long"), b.cast("long")
    )
    hub = edges.select("cust").distinct().select(
        "cust", F.lit(HITS_SCALE).cast("long").alias("h")
    )
    auth = None
    # r10 (guide §2.4/§5): araw feeds BOTH its own max-normalizer and
    # the next half-step, and hraw likewise — left lazy, every
    # consumer re-inlined the whole alternating prefix (the captured
    # before-plan is 102 Exchanges of the edge list for 2 iterations,
    # with zero ReusedExchange). Each half-step result is KEY-grain
    # (parts / customers, never edges), so an eager checkpoint per
    # half-step bounds the plan at one join+agg per job. The final
    # round's hub is dead (the return consumes only auth) and stays
    # lazy — the ktruss last-round trim.
    for it in range(iters):
        araw = (
            edges.join(hub, "cust")
            .groupBy("part")
            .agg(F.sum("h").alias("ar"))
            .localCheckpoint(eager=False)
        )
        amax = araw.agg(F.max("ar").alias("am"))
        auth = araw.crossJoin(F.broadcast(amax)).select(
            "part",
            idiv(F.col("ar"), idiv(F.col("am"), F.lit(HITS_SCALE))).alias("a"),
        )
        if it == iters - 1:
            break
        hraw = (
            edges.join(auth, "part")
            .groupBy("cust")
            .agg(F.sum("a").alias("hr"))
            .localCheckpoint(eager=False)
        )
        hmax = hraw.agg(F.max("hr").alias("hm"))
        hub = hraw.crossJoin(F.broadcast(hmax)).select(
            "cust",
            idiv(F.col("hr"), idiv(F.col("hm"), F.lit(HITS_SCALE))).alias("h"),
        )
    deg = edges.groupBy("part").agg(
        F.count("*").cast("bigint").alias("n_buyers")
    )
    return deg.join(auth, "part").select(
        F.col("part").alias("l_partkey"),
        "n_buyers",
        F.col("a").alias("authority"),
    )


def oracle_hits(iters: int = HITS_ITERS) -> str:
    ctes = [
        """
ht_e AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
ht_h0 AS (
  SELECT cust, CAST({scale} AS BIGINT) AS h
  FROM (SELECT DISTINCT cust FROM ht_e)
)""".format(scale=HITS_SCALE)
    ]
    prev_h = "ht_h0"
    for i in range(1, iters + 1):
        ctes.append(
            """
ht_ar{i} AS MATERIALIZED (
  SELECT e.part, CAST(sum(h.h) AS BIGINT) AS ar
  FROM ht_e e JOIN {prev_h} h ON e.cust = h.cust
  GROUP BY 1
),
ht_a{i} AS MATERIALIZED (
  SELECT part,
         CAST(ar // ((SELECT max(ar) FROM ht_ar{i}) // {scale})
              AS BIGINT) AS a
  FROM ht_ar{i}
),
ht_hr{i} AS MATERIALIZED (
  SELECT e.cust, CAST(sum(a.a) AS BIGINT) AS hr
  FROM ht_e e JOIN ht_a{i} a ON e.part = a.part
  GROUP BY 1
),
ht_h{i} AS MATERIALIZED (
  SELECT cust,
         CAST(hr // ((SELECT max(hr) FROM ht_hr{i}) // {scale})
              AS BIGINT) AS h
  FROM ht_hr{i}
)""".format(i=i, prev_h=prev_h, scale=HITS_SCALE)
        )
        prev_h = f"ht_h{i}"
    ctes.append(
        f"""
graph_hits AS (
  SELECT d.part AS l_partkey, d.n_buyers, a.a AS authority
  FROM (SELECT part, CAST(count(*) AS BIGINT) AS n_buyers
        FROM ht_e GROUP BY 1) d
  JOIN ht_a{iters} a ON d.part = a.part
)"""
    )
    return ",".join(ctes)


# ---------------------------------------------------------------------------
# personalized PageRank (seed-restart random walk)
# ---------------------------------------------------------------------------

#: deterministic seed rule: parts whose key is divisible by this.
PPR_SEED_MOD = 50


def personalized_pagerank(
    lineitem: DataFrame, iterations: int = PR_ITERATIONS
) -> DataFrame:
    """Personalized PageRank over the co-purchase graph: the teleport
    mass restarts at a SEED SET (parts with partkey % PPR_SEED_MOD ==
    0, a deterministic rule) instead of uniformly — "products
    relevant to THESE anchor products", the recommender-flavored
    sibling of the global `pagerank_products`. Same integer-millionth
    arithmetic and fixed unrolled supersteps; the only change is the
    restart term: base(v) = 15% · SCALE if v is a seed else 0, so
    rank mass decays with walk distance from the seeds.

    Non-seed sinks of the seeds' neighborhoods keep nonzero rank via
    incoming flow only; nodes unreachable from the seed set decay to
    0 (floor division) — exactly the PPR semantics. Runs the
    ``_pagerank`` kernel with the seed rule as its seed predicate.

    Output: (node, is_seed, rank_millionths).
    """
    def seed(node):
        return node % PPR_SEED_MOD == 0

    return _pagerank(lineitem, iterations, seed).select(
        "node",
        seed(F.col("node")).cast("int").alias("is_seed"),
        F.col("rank").alias("rank_millionths"),
    )


def oracle_ppr(iterations: int = PR_ITERATIONS) -> str:
    base = (100 - PR_DAMP_PCT) * PR_SCALE // 100
    ctes = [
        """
ppr_edges AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey <> l2.l_partkey
),
ppr_deg AS (
  SELECT a, CAST(count(*) AS BIGINT) AS deg FROM ppr_edges GROUP BY 1
),
ppr_r0 AS (
  SELECT a AS node,
         CAST(CASE WHEN a % {mod} = 0 THEN {scale} ELSE 0 END
              AS BIGINT) AS rank
  FROM ppr_deg
)""".format(mod=PPR_SEED_MOD, scale=PR_SCALE)
    ]
    prev = "ppr_r0"
    for i in range(1, iterations + 1):
        ctes.append(
            """
ppr_r{i} AS (
  SELECT e.b AS node,
         CAST(CASE WHEN e.b % {mod} = 0 THEN {base} ELSE 0 END
              + (sum(CAST(r.rank // d.deg AS BIGINT)) * {damp}) // 100
              AS BIGINT) AS rank
  FROM ppr_edges e
  JOIN {prev} r ON e.a = r.node
  JOIN ppr_deg d ON e.a = d.a
  GROUP BY 1
)""".format(
                i=i,
                mod=PPR_SEED_MOD,
                base=base,
                damp=PR_DAMP_PCT,
                prev=prev,
            )
        )
        prev = f"ppr_r{i}"
    ctes.append(
        f"""
personalized_pagerank AS (
  SELECT node,
         CAST(CASE WHEN node % {PPR_SEED_MOD} = 0 THEN 1 ELSE 0 END
              AS INT) AS is_seed,
         rank AS rank_millionths
  FROM {prev}
)"""
    )
    return ",".join(ctes)


# ---------------------------------------------------------------------------
# modularity of the LPA communities
# ---------------------------------------------------------------------------


def community_modularity(lineitem: DataFrame) -> DataFrame:
    """Newman modularity of the LPA community assignment — the
    quality score that says whether the communities the propagation
    found are DENSER than chance: per community c on the directed
    (double-counted) edge list E,

        q_c = e_in(c)/|E| − (d(c)/|E|)²,   Q = Σ_c q_c.

    e_in counts edges with both endpoints in c (two node-key joins of
    the staged edge list against the label table), d(c) sums member
    degrees (one join + agg); |E| attaches as a 1-row broadcast. All
    counts are exact BIGINTs; q_c is one scalar expression per
    community row, so the readout hash-matches. The label table is
    session-staged (`_lpa_labels_staged`), so `graph_lpa` and this
    eval pay for the propagation supersteps once between them. The
    eval completes the community pipeline the same way recall
    harnesses complete the ANN indexes: detection (LPA) + quality
    (this).

    Output per community: community, n_nodes, e_in, d_tot, q_term.
    """
    edges = _edges_staged(lineitem)
    labels = _lpa_labels_staged(lineitem).select(
        "node", F.col("lbl").alias("community")
    )
    m_tot = edges.agg(F.count("*").alias("n_edges"))
    e_in = (
        edges.join(
            labels.select(F.col("node").alias("a"), F.col("community").alias("ca")),
            "a",
        )
        .join(
            labels.select(F.col("node").alias("b"), F.col("community").alias("cb")),
            "b",
        )
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").alias("e_in"))
    )
    deg = edges.groupBy("a").agg(F.count("*").alias("deg"))
    d_tot = (
        labels.join(deg, labels.node == deg.a)
        .groupBy("community")
        .agg(F.count("*").alias("n_nodes"), F.sum("deg").alias("d_tot"))
    )
    ed = F.col("n_edges").cast("double")
    return (
        d_tot.join(e_in, "community", "left")
        .select(
            "community",
            "n_nodes",
            F.coalesce("e_in", F.lit(0)).alias("e_in"),
            "d_tot",
        )
        .crossJoin(F.broadcast(m_tot))
        .select(
            "community",
            "n_nodes",
            "e_in",
            "d_tot",
            F.round(
                F.col("e_in").cast("double") / ed
                - (F.col("d_tot").cast("double") / ed)
                * (F.col("d_tot").cast("double") / ed),
                9,
            ).alias("q_term"),
        )
    )


def oracle_modularity(iterations: int = LPA_ITERATIONS) -> str:
    """Chains on the LPA oracle CTEs (lpa_edges / lpa_communities)."""
    return (
        oracle_lpa_communities(iterations)
        + """,
mod_m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges FROM lpa_edges
),
mod_ein AS (
  SELECT la.community, CAST(count(*) AS BIGINT) AS e_in
  FROM lpa_edges e
  JOIN lpa_communities la ON e.a = la.node
  JOIN lpa_communities lb ON e.b = lb.node
  WHERE la.community = lb.community
  GROUP BY 1
),
mod_deg AS (
  SELECT a, CAST(count(*) AS BIGINT) AS deg FROM lpa_edges GROUP BY 1
),
mod_dtot AS (
  SELECT l.community, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d.deg) AS BIGINT) AS d_tot
  FROM lpa_communities l JOIN mod_deg d ON l.node = d.a
  GROUP BY 1
),
community_modularity AS (
  SELECT t.community, t.n_nodes,
         CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in, t.d_tot,
         round(CAST(coalesce(e.e_in, 0) AS DOUBLE)
                 / CAST(m.n_edges AS DOUBLE)
               - (CAST(t.d_tot AS DOUBLE) / CAST(m.n_edges AS DOUBLE))
                 * (CAST(t.d_tot AS DOUBLE) / CAST(m.n_edges AS DOUBLE)),
               9) AS q_term
  FROM mod_dtot t
  LEFT JOIN mod_ein e ON t.community = e.community
  CROSS JOIN mod_m m
)"""
    )


# ---------------------------------------------------------------------------
# rich-club coefficient (do hubs preferentially interlink?)
# ---------------------------------------------------------------------------

#: degree thresholds audited.
RICH_CLUB_KS = (8, 16, 32, 64)


def rich_club(lineitem: DataFrame) -> DataFrame:
    """Rich-club coefficient φ(k) at fixed degree thresholds: among
    nodes with degree > k, the realized fraction of possible directed
    edges — φ rising with k means the hub products preferentially
    co-occur with EACH OTHER (a rich club), which is exactly the
    regime where degree-based skew guards (the triangle hybrid
    orientation) earn their keep.

    ONE pass over the staged edge list with |K| conditional sums
    (both-endpoints-above-k counts, via two degree joins) + one pass
    over the degree table for the club sizes; φ is a per-row scalar
    on exact BIGINTs. No per-pair work anywhere — adding thresholds
    adds columns, not passes.

    Output per k: k, n_club, e_club, phi.
    """
    edges = _edges_staged(lineitem)
    deg = edges.groupBy("a").agg(F.count("*").alias("deg"))
    ed = (
        edges.join(
            deg.select(F.col("a"), F.col("deg").alias("da")), "a"
        )
        .join(
            deg.select(
                F.col("a").alias("b"), F.col("deg").alias("db")
            ),
            "b",
        )
    )
    e_sums = ed.agg(
        *[
            F.sum(
                ((F.col("da") > k) & (F.col("db") > k)).cast("int")
            ).alias(f"e{k}")
            for k in RICH_CLUB_KS
        ]
    )
    n_sums = deg.agg(
        *[
            F.sum((F.col("deg") > k).cast("int")).alias(f"n{k}")
            for k in RICH_CLUB_KS
        ]
    )
    rows = e_sums.crossJoin(F.broadcast(n_sums)).selectExpr(
        "stack({}, {}) AS (k, n_club, e_club)".format(
            len(RICH_CLUB_KS),
            ", ".join(
                f"{k}, n{k}, e{k}" for k in RICH_CLUB_KS
            ),
        )
    )
    phi = F.when(
        F.col("n_club") > 1,
        F.round(
            F.col("e_club").cast("double")
            / (
                F.col("n_club").cast("double")
                * (F.col("n_club").cast("double") - 1)
            ),
            9,
        ),
    ).otherwise(F.lit(None))
    return rows.select("k", "n_club", "e_club", phi.alias("phi"))


def oracle_rich_club() -> str:
    arms = []
    for k in RICH_CLUB_KS:
        arms.append(
            f"""
  SELECT {k} AS k,
         (SELECT CAST(sum(CASE WHEN deg > {k} THEN 1 ELSE 0 END)
                      AS BIGINT) FROM rc_deg) AS n_club,
         (SELECT CAST(sum(CASE WHEN da.deg > {k} AND db.deg > {k}
                               THEN 1 ELSE 0 END) AS BIGINT)
          FROM rc_edges e
          JOIN rc_deg da ON e.a = da.a
          JOIN rc_deg db ON e.b = db.a) AS e_club"""
        )
        arms.append("  UNION ALL")
    body = "\n".join(arms[:-1])
    return f"""
rc_edges AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey <> l2.l_partkey
),
rc_deg AS (
  SELECT a, CAST(count(*) AS BIGINT) AS deg FROM rc_edges GROUP BY 1
),
rc_rows AS (
{body}
),
rich_club AS (
  SELECT k, n_club, e_club,
         CASE WHEN n_club > 1
              THEN round(CAST(e_club AS DOUBLE)
                         / (CAST(n_club AS DOUBLE)
                            * (CAST(n_club AS DOUBLE) - 1)), 9)
              ELSE NULL END AS phi
  FROM rc_rows
)
"""


# ---------------------------------------------------------------------------
# clustering coefficient (local per node + global transitivity)
# ---------------------------------------------------------------------------


def clustering_coefficient(lineitem: DataFrame) -> DataFrame:
    """Local clustering coefficient per node — how close each
    product's co-purchase neighborhood is to a clique:
    c_v = 2*tri_v / (deg_v*(deg_v-1)) — plus the global transitivity
    3*T / W = 2*sum(tri_v) / sum(deg*(deg-1)) repeated on every row
    for one-table reading. The community-density companion to the
    triangle counts (same staged enumeration) that separates "high
    degree because hub" from "high degree because clique".

    Cost on top of the SESSION-STAGED triangle list and edge list:
    one explode-agg, one degree agg, one join — nothing re-enumerates
    wedges. Exactness: coefficients are single divisions of exact
    BIGINTs (wedge counts deg*(deg-1)/2 are integer-exact; isolated-
    degree-1 nodes are excluded by the triangle join's nature and
    guarded by a when()).

    Output per triangle-bearing node: node, degree, n_triangles,
    local_coef, global_transitivity (both round 6).
    """
    und = _edges_staged(lineitem).filter(F.col("a") < F.col("b"))
    deg = _degrees(und)
    joined = _node_triangles(_triangles_staged(lineitem), deg)
    glob = joined.agg(
        F.sum("n_triangles").alias("t3"),  # = 3*T over triangle nodes
    ).crossJoin(
        F.broadcast(
            deg.agg(
                F.sum(
                    F.col("degree") * (F.col("degree") - 1)
                ).alias("w2")  # = 2*W
            )
        )
    ).select(
        F.round(
            (2 * F.col("t3")).cast("double")
            / F.col("w2").cast("double"),
            6,
        ).alias("global_transitivity")
    )
    wedge2 = F.col("degree") * (F.col("degree") - 1)
    return joined.crossJoin(F.broadcast(glob)).select(
        "node",
        "degree",
        "n_triangles",
        F.round(
            F.when(
                wedge2 > 0,
                (2 * F.col("n_triangles")).cast("double")
                / wedge2.cast("double"),
            ),
            6,
        ).alias("local_coef"),
        "global_transitivity",
    )


ORACLE_CLUSTERING_COEF = """
cc_und AS (
  SELECT a, b FROM (
    SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
    FROM lineitem l1
    JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
    WHERE l1.l_partkey <> l2.l_partkey
  ) WHERE a < b
),
cc_tri AS (
  SELECT ab.a, ab.b, bc.b AS c
  FROM cc_und ab
  JOIN cc_und bc ON ab.b = bc.a
  JOIN cc_und ac ON ac.a = ab.a AND ac.b = bc.b
),
cc_pn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (SELECT a AS node FROM cc_tri
        UNION ALL SELECT b FROM cc_tri
        UNION ALL SELECT c FROM cc_tri)
  GROUP BY 1
),
cc_deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT a AS node FROM cc_und
        UNION ALL SELECT b FROM cc_und)
  GROUP BY 1
),
cc_glob AS (
  SELECT round(
    (SELECT CAST(2 * sum(n_triangles) AS DOUBLE) FROM cc_pn)
    / (SELECT CAST(sum(degree * (degree - 1)) AS DOUBLE)
       FROM cc_deg), 6) AS global_transitivity
),
clustering_coefficient AS (
  SELECT p.node, d.degree, p.n_triangles,
         round(CASE WHEN d.degree * (d.degree - 1) > 0
               THEN CAST(2 * p.n_triangles AS DOUBLE)
                    / CAST(d.degree * (d.degree - 1) AS DOUBLE) END,
               6) AS local_coef,
         g.global_transitivity
  FROM cc_pn p JOIN cc_deg d ON p.node = d.node, cc_glob g
)
"""


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction (round 7)
# ---------------------------------------------------------------------------


def adamic_adar_prediction(
    lineitem: DataFrame,
    df_cap: int = RA_DF_CAP,
    per_seed: int = RA_PER_SEED,
) -> DataFrame:
    """Per-seed Adamic-Adar link prediction beside the RA index
    (``graph_link_prediction``): AA weights each common neighbor z by
    1/ln(deg(z)) — gentler hub damping than RA's 1/deg, the classic
    citation-recommendation tradeoff (AA keeps mid-degree bridges
    that RA almost zeroes out).

    The RA query's ``_link_scores`` kernel (seed-scoped wedges,
    df-capped centers, per-seed 2-hop-bounded window); the float trap
    is dodged the same way: each z gives the PER-NODE integer
    floor(1e6 / ln(deg(z))) — ln is evaluated once per node, where
    both engines agree bitwise, and the wedge SUM is then exact
    BIGINT arithmetic in any fold order (a raw 1/ln float sum would
    be fold-order jitter). The kernel's deg >= 2 filter guards
    ln(1) = 0.

    Output: seed, cand, cn, aa_micros, rank (rank <= per_seed).
    """
    give = F.floor(F.lit(RA_SCALE) / F.log(F.col("deg"))).cast("bigint")
    return _link_scores(lineitem, df_cap, per_seed, give, "aa_micros")


def oracle_adamic_adar(
    df_cap: int = RA_DF_CAP, per_seed: int = RA_PER_SEED
) -> str:
    return """
aa_edges AS MATERIALIZED (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey <> l2.l_partkey
),
aa_deg AS (
  SELECT a, CAST(count(*) AS BIGINT) AS deg FROM aa_edges GROUP BY 1
),
aa_nbr AS MATERIALIZED (
  SELECT e.a AS z, e.b AS n,
         CAST(floor({scale} / ln(d.deg)) AS BIGINT) AS give
  FROM aa_edges e JOIN aa_deg d ON e.a = d.a
  WHERE d.deg <= {cap} AND d.deg >= 2
),
aa_scored AS (
  SELECT x.n AS seed, y.n AS cand,
         CAST(count(*) AS BIGINT) AS cn,
         CAST(sum(y.give) AS BIGINT) AS aa_micros
  FROM aa_nbr x JOIN aa_nbr y ON x.z = y.z AND x.n <> y.n
  WHERE x.n % {mod} = 0
  GROUP BY 1, 2
),
adamic_adar AS (
  SELECT seed, cand, cn, aa_micros, rank FROM (
    SELECT s.seed, s.cand, s.cn, s.aa_micros,
           CAST(row_number() OVER (
             PARTITION BY s.seed
             ORDER BY s.aa_micros DESC, s.cn DESC, s.cand) AS INT)
             AS rank
    FROM aa_scored s
    WHERE NOT EXISTS (SELECT 1 FROM aa_edges e
                      WHERE e.a = s.seed AND e.b = s.cand)
  ) WHERE rank <= {k}
)
""".format(scale=RA_SCALE, cap=df_cap, mod=RA_SEED_MOD, k=per_seed)


# ---------------------------------------------------------------------------
# degree assortativity (round 7)
# ---------------------------------------------------------------------------


def degree_assortativity(lineitem: DataFrame) -> DataFrame:
    """Degree assortativity coefficient of the co-purchase graph:
    the Pearson correlation of endpoint degrees over the (directed
    symmetric) edge list — Newman's r. Positive: hubs buy with hubs
    (assortative mixing); negative: hub-and-spoke structure. The
    one-number mixing summary beside the degree histogram
    (``graph_degree_stats``) and rich-club coefficient.

    Exact to the last division: all five moments (M, sum j, sum k,
    sum jk, sum j^2, ...) are BIGINT sums of integer degrees over
    the edge list (each undirected edge contributes both
    orientations — the standard convention that makes r symmetric),
    assembled into r = (M*Sjk - Sj*Sk) / sqrt((M*Sjj - Sj^2)
    (M*Skk - Sk^2)) in doubles only at the 1-row end, rounded 6 dp.

    One degree agg + one broadcast-degree edge scan. Output (1 row):
    n_edges, assortativity, assortative.
    """
    edges = _edges_staged(lineitem)  # both orientations present
    deg = edges.groupBy("a").agg(F.count("*").alias("deg"))
    dd = edges.join(
        deg.select(F.col("a"), F.col("deg").alias("dj")), "a"
    ).join(
        deg.select(
            F.col("a").alias("b"), F.col("deg").alias("dk")
        ),
        "b",
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = dd.agg(
        F.count("*").alias("m"),
        F.sum("dj").alias("sj"),
        F.sum("dk").alias("sk"),
        F.sum(dec(F.col("dj")) * dec(F.col("dk"))).alias("sjk"),
        F.sum(dec(F.col("dj")) * dec(F.col("dj"))).alias("sjj"),
        F.sum(dec(F.col("dk")) * dec(F.col("dk"))).alias("skk"),
    )
    md = F.col("m").cast("double")
    num = md * F.col("sjk").cast("double") - F.col("sj").cast(
        "double"
    ) * F.col("sk").cast("double")
    den = F.sqrt(
        (
            md * F.col("sjj").cast("double")
            - F.col("sj").cast("double") * F.col("sj").cast("double")
        )
        * (
            md * F.col("skk").cast("double")
            - F.col("sk").cast("double") * F.col("sk").cast("double")
        )
    )
    r = F.round(num / den, 6)
    return m.select(
        F.col("m").alias("n_edges"),
        r.alias("assortativity"),
        (r > 0).alias("assortative"),
    )


ORACLE_ASSORTATIVITY = """
as_edges AS MATERIALIZED (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey <> l2.l_partkey
),
as_deg AS (
  SELECT a, CAST(count(*) AS BIGINT) AS deg FROM as_edges GROUP BY 1
),
as_m AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(j.deg) AS BIGINT) AS sj,
         CAST(sum(k.deg) AS BIGINT) AS sk,
         CAST(sum(CAST(j.deg AS HUGEINT) * k.deg) AS HUGEINT) AS sjk,
         CAST(sum(CAST(j.deg AS HUGEINT) * j.deg) AS HUGEINT) AS sjj,
         CAST(sum(CAST(k.deg AS HUGEINT) * k.deg) AS HUGEINT) AS skk
  FROM as_edges e
  JOIN as_deg j ON e.a = j.a
  JOIN as_deg k ON e.b = k.a
),
degree_assortativity AS (
  SELECT m AS n_edges,
         round((CAST(m AS DOUBLE) * CAST(sjk AS DOUBLE)
                - CAST(sj AS DOUBLE) * CAST(sk AS DOUBLE))
               / sqrt((CAST(m AS DOUBLE) * CAST(sjj AS DOUBLE)
                       - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
                      * (CAST(m AS DOUBLE) * CAST(skk AS DOUBLE)
                         - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE))),
               6) AS assortativity,
         round((CAST(m AS DOUBLE) * CAST(sjk AS DOUBLE)
                - CAST(sj AS DOUBLE) * CAST(sk AS DOUBLE))
               / sqrt((CAST(m AS DOUBLE) * CAST(sjj AS DOUBLE)
                       - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
                      * (CAST(m AS DOUBLE) * CAST(skk AS DOUBLE)
                         - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE))),
               6) > 0 AS assortative
  FROM as_m
)
"""
