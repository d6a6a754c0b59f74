"""Verified matrix factorization: rank-1 ALS on implicit purchase
counts, engine-exact under the hash gate.

The reference's recommender surface is supervised trees over
hand-built features (F.py:219-225); collaborative filtering proper is
matrix factorization, and MLlib's ALS (blocked, seeded, float-summed)
is not replayable cross-engine. Rank-1 ALS is: each half-step is a
closed-form per-key least-squares

    u_i = sum_j r_ij v_j / sum_j v_j^2     (over observed entries)
    v_j = sum_i r_ij u_i / sum_i u_i^2

— two hash-aggs per round, no gradients, no learning rate. With the
repo's float protocol (factors re-rounded to 9 dp after each
half-step, metrics rounded at the edge) the whole training trajectory
is deterministic, so the per-round SSE curve and factor norms
hash-match the DuckDB unrolled-CTE replay. Rank-1 is the honest
verifiable core: higher rank needs a per-key matrix solve (normal
equations) that no SQL engine replays exactly; the dataflow shape —
join ratings to the broadcast opposite factor, aggregate per key — is
IDENTICAL at any rank, which is what matters for the 100 TB plan.

Scale: ratings reduce to the (user, product) grain once
(checkpointed); each half-step joins ratings against the broadcast
opposite-side factor table (users and products are both dimension-
sized relative to ratings) and aggregates on its own key — the same
two shuffles MLlib ALS pays per sweep, minus its block bookkeeping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.instacart import InstacartTables
from ._staging import cut as _cut

ALS_ROUNDS = 3


def _ratings(t: InstacartTables) -> DataFrame:
    """Implicit feedback: purchase counts at the (user, product)
    grain over the prior split."""
    return (
        t.prior_products.join(
            t.prior_orders.select("orderID", "userID"), "orderID"
        )
        .groupBy("userID", "productID")
        .agg(F.count("*").alias("r"))
    )


def _als_rounds(
    t: InstacartTables, rounds: int = ALS_ROUNDS
) -> tuple[DataFrame, list[tuple[DataFrame, DataFrame]]]:
    """The verified ALS run: the cut ratings and every round's
    (user, product) factor tables, each half-step cut."""
    ratings = _cut(_ratings(t))
    v = ratings.select("productID").distinct().select(
        "productID", F.lit(1.0).alias("v")
    )
    factors = []
    for _ in range(rounds):
        u = _cut(
            ratings.join(F.broadcast(v), "productID")
            .groupBy("userID")
            .agg(
                F.round(
                    F.sum(F.col("r") * F.col("v"))
                    / F.sum(F.col("v") * F.col("v")),
                    9,
                ).alias("u")
            )
        )
        v = _cut(
            ratings.join(F.broadcast(u), "userID")
            .groupBy("productID")
            .agg(
                F.round(
                    F.sum(F.col("r") * F.col("u"))
                    / F.sum(F.col("u") * F.col("u")),
                    9,
                ).alias("v")
            )
        )
        factors.append((u, v))
    return ratings, factors


def als_rank1(t: InstacartTables, rounds: int = ALS_ROUNDS) -> DataFrame:
    """Rank-1 ALS; one row per round: round, sse (post-update, over
    observed entries), u_norm2, v_norm2 — the training curve IS the
    verified artifact (sse must be monotone non-increasing; a property
    test asserts it)."""
    ratings, factors = _als_rounds(t, rounds)
    out = None
    for rnd, (u, v) in enumerate(factors, start=1):
        sse = (
            ratings.join(F.broadcast(u), "userID")
            .join(F.broadcast(v), "productID")
            .agg(
                F.round(
                    F.sum(
                        (F.col("r") - F.col("u") * F.col("v"))
                        * (F.col("r") - F.col("u") * F.col("v"))
                    ),
                    6,
                ).alias("sse")
            )
        )
        row = (
            sse.crossJoin(
                F.broadcast(
                    u.agg(
                        F.round(F.sum(F.col("u") * F.col("u")), 6).alias(
                            "u_norm2"
                        )
                    )
                )
            )
            .crossJoin(
                F.broadcast(
                    v.agg(
                        F.round(F.sum(F.col("v") * F.col("v")), 6).alias(
                            "v_norm2"
                        )
                    )
                )
            )
            .select(F.lit(rnd).alias("round"), "sse", "u_norm2", "v_norm2")
        )
        out = row if out is None else out.unionByName(row)
    return out


def oracle_als_rank1(rounds: int = ALS_ROUNDS) -> str:
    """Unrolled ALS rounds; factor CTEs MATERIALIZED (each is
    referenced by the next half-step AND the SSE join)."""
    parts = [
        """
als_r AS MATERIALIZED (
  SELECT o.userID, op.productID, CAST(count(*) AS BIGINT) AS r
  FROM iprior_products op
  JOIN iprior_orders o ON o.orderID = op.orderID
  GROUP BY 1, 2
),
als_v0 AS MATERIALIZED (
  SELECT DISTINCT productID, CAST(1.0 AS DOUBLE) AS v FROM als_r
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""
als_u{r} AS MATERIALIZED (
  SELECT a.userID, round(sum(a.r * v.v) / sum(v.v * v.v), 9) AS u
  FROM als_r a JOIN als_v{r - 1} v USING (productID)
  GROUP BY 1
),
als_v{r} AS MATERIALIZED (
  SELECT a.productID, round(sum(a.r * u.u) / sum(u.u * u.u), 9) AS v
  FROM als_r a JOIN als_u{r} u USING (userID)
  GROUP BY 1
),
als_sse{r} AS (
  SELECT round(sum((a.r - u.u * v.v) * (a.r - u.u * v.v)), 6) AS sse,
         (SELECT round(sum(u2.u * u2.u), 6) FROM als_u{r} u2) AS u_norm2,
         (SELECT round(sum(v2.v * v2.v), 6) FROM als_v{r} v2) AS v_norm2
  FROM als_r a
  JOIN als_u{r} u USING (userID)
  JOIN als_v{r} v USING (productID)
)"""
        )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT {r} AS round, sse, u_norm2, v_norm2 FROM als_sse{r}"
        for r in range(1, rounds + 1)
    )
    return ",".join(parts) + f""",
als_rank1 AS (
  {union}
)"""


def als_bpr_auc(t: InstacartTables) -> DataFrame:
    """Closes the verified recsys loop: BPR-AUC of the trained rank-1
    ALS model against the deterministic negative samples — the
    fraction of (positive, sampled-negative) pairs per user the model
    ranks correctly (ties count 1/2). Training, sampling, AND
    evaluation are each hash-verified, so the whole
    train -> sample -> evaluate pipeline is engine-exact: a metric
    regression in CI is a real model change, never noise.

    Pairs are bounded per user by (user positives) x NEG_K — the
    anti-join and per-user pairing shuffle on userID, never a corpus
    cross join. Output: auc (round 6), n_pairs, n_users.
    """
    from .sampling import negative_samples

    _, factors = _als_rounds(t)
    u, v = factors[-1]
    pos = (
        _ratings(t)
        .join(F.broadcast(v), "productID")
        .select("userID", F.col("v").alias("v_pos"))
    )
    neg = (
        negative_samples(t)
        .join(F.broadcast(v), "productID")
        .select("userID", F.col("v").alias("v_neg"))
    )
    pairs = (
        pos.join(neg, "userID")
        .join(F.broadcast(u), "userID")
        .select(
            "userID",
            (F.col("u") * F.col("v_pos")).alias("s_pos"),
            (F.col("u") * F.col("v_neg")).alias("s_neg"),
        )
    )
    return pairs.agg(
        F.round(
            F.avg(
                F.when(F.col("s_pos") > F.col("s_neg"), F.lit(1.0))
                .when(F.col("s_pos") == F.col("s_neg"), F.lit(0.5))
                .otherwise(F.lit(0.0))
            ),
            6,
        ).alias("auc"),
        F.count("*").alias("n_pairs"),
        F.countDistinct("userID").alias("n_users"),
    )


def oracle_als_bpr_auc() -> str:
    return """
bpr_pos AS (
  SELECT r.userID, v.v AS v_pos
  FROM als_r r JOIN als_v3 v USING (productID)
),
bpr_neg AS (
  SELECT n.userID, v.v AS v_neg
  FROM negative_samples n JOIN als_v3 v USING (productID)
),
als_bpr_auc AS (
  SELECT round(avg(CASE WHEN u.u * p.v_pos > u.u * n.v_neg THEN 1.0
                        WHEN u.u * p.v_pos = u.u * n.v_neg THEN 0.5
                        ELSE 0.0 END), 6) AS auc,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(DISTINCT p.userID) AS BIGINT) AS n_users
  FROM bpr_pos p
  JOIN bpr_neg n USING (userID)
  JOIN als_u3 u ON u.userID = p.userID
)
"""
