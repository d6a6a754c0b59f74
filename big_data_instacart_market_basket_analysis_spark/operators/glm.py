"""[EXT] Verified generalized linear models: logistic regression by
full-batch gradient descent, engine-exact under the hash gate.

Completes the verified-training family (CART / GBM in ``trees.py``)
with the GLM member: the reference's MLlib trees (F.py:219-225) are
rows-only by nature, but batch GD over a fixed feature set is a pure
dataflow — per round ONE aggregation produces the gradient, so the
entire training trajectory (weights, log-loss curve, accuracy) is a
deterministic function of the data and replayable in DuckDB as
unrolled per-round CTEs.

Cross-engine float protocol (the repo's standard): probabilities are
rounded to 12 dp after the sigmoid (absorbs libm exp() ulp skew),
weights to 9 dp after each update (absorbs aggregation fold-order
ulps — gradient magnitudes are O(1), so 1e-13 relative noise never
reaches the 9th decimal), loss/accuracy rounded at the output edge.
Features are ratios of integer counts — bit-identical in both
engines by construction.

The (disclosed) modeling setup: predict y = [n_chars > 300] from
x1 = 'dup'-token density x10 and x2 = centered word count /50. x2
nearly determines y, so the curve must show real learning (loss
0.69 -> ~0.48, accuracy 0.49 -> ~0.96 in 4 rounds) — the gate then
verifies the *mechanics* of training, which is the point: the same
plan trains any (x, y) at any scale.

Scale: each round = one crossJoin with the broadcast 1-row weight
table + one hash-agg over the feature table (map-side partials — no
shuffle wider than 3 doubles), exactly the shape distributed LR uses
at 100 TB (a full-batch L-BFGS/GD step IS this aggregation). The
feature table is localCheckpointed once; rounds grow the plan by one
tiny join each, never rescan text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_instacart_market_basket_analysis_spark.operators import (
    ranking as _rank,
)
from ._staging import cut as _cut

LR_ROUNDS = 4
LR_RATE = 2.0
LR_CHARS_THRESHOLD = 300
_P_FLOOR = 1e-12


def _lr_features(docs: DataFrame) -> DataFrame:
    """doc-grain features: x1 = 'dup' occurrences x10 / words,
    x2 = words/50 - 1, y = [n_chars > threshold]. All ratios of
    integer counts — engine-exact doubles."""
    occ = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("dup")))
    ) / F.lit(3)
    words = F.size(F.split(F.col("text"), " "))
    return docs.select(
        (occ * F.lit(10.0) / words).alias("x1"),
        (words / F.lit(50.0) - F.lit(1.0)).alias("x2"),
        (F.col("n_chars") > LR_CHARS_THRESHOLD).cast("int").alias("y"),
    )


def logreg_train(docs: DataFrame, rounds: int = LR_ROUNDS) -> DataFrame:
    """Full-batch GD logistic regression; one row per round with the
    post-update weights and the PRE-update loss/accuracy (the metrics
    that motivated the step — same convention as the oracle)."""
    feats = _cut(_lr_features(docs))
    w = None  # 1-row (w0, w1, w2)
    out = None
    for rnd in range(1, rounds + 1):
        if w is None:
            scored_src = feats.select(
                "*",
                F.lit(0.0).alias("w0"),
                F.lit(0.0).alias("w1"),
                F.lit(0.0).alias("w2"),
            )
        else:
            scored_src = feats.crossJoin(F.broadcast(w))
        m = F.col("w0") + F.col("w1") * F.col("x1") + F.col("w2") * F.col(
            "x2"
        )
        p = F.least(
            F.greatest(
                F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-m)), 12),
                F.lit(_P_FLOOR),
            ),
            F.lit(1.0 - _P_FLOOR),
        )
        scored = scored_src.select("*", p.alias("p"))
        d = F.col("p") - F.col("y")
        stats = scored.agg(
            F.avg(d).alias("g0"),
            F.avg(d * F.col("x1")).alias("g1"),
            F.avg(d * F.col("x2")).alias("g2"),
            F.round(
                F.avg(
                    -(
                        F.col("y") * F.log("p")
                        + (F.lit(1) - F.col("y")) * F.log(F.lit(1.0) - F.col("p"))
                    )
                ),
                6,
            ).alias("log_loss"),
            F.round(
                F.avg(
                    ((F.col("p") > 0.5) == (F.col("y") == 1)).cast("double")
                ),
                4,
            ).alias("accuracy"),
            F.first("w0").alias("w0"),
            F.first("w1").alias("w1"),
            F.first("w2").alias("w2"),
        )
        w = _cut(stats.select(
            F.round(F.col("w0") - F.lit(LR_RATE) * F.col("g0"), 9).alias(
                "w0"
            ),
            F.round(F.col("w1") - F.lit(LR_RATE) * F.col("g1"), 9).alias(
                "w1"
            ),
            F.round(F.col("w2") - F.lit(LR_RATE) * F.col("g2"), 9).alias(
                "w2"
            ),
        ))
        row = w.crossJoin(
            F.broadcast(stats.select("log_loss", "accuracy"))
        ).select(
            F.lit(rnd).alias("round"),
            "w0",
            "w1",
            "w2",
            "log_loss",
            "accuracy",
        )
        out = row if out is None else out.unionByName(row)
    return out


def _sql_round(prev_w: str, rnd: int) -> str:
    """One unrolled GD round: score with prev weights, aggregate
    gradient + metrics, update weights."""
    return f"""
lr_s{rnd} AS (
  SELECT f.*, w.w0, w.w1, w.w2,
         least(greatest(round(CAST(1.0 AS DOUBLE)
                 / (1.0 + exp(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2))), 12),
               CAST({_P_FLOOR!r} AS DOUBLE)),
               CAST({1.0 - _P_FLOOR!r} AS DOUBLE)) AS p
  FROM lr_feats f, {prev_w} w
),
lr_g{rnd} AS (
  SELECT avg(p - y) AS g0,
         avg((p - y) * x1) AS g1,
         avg((p - y) * x2) AS g2,
         round(avg(-(y * ln(p) + (1 - y) * ln(1.0 - p))), 6) AS log_loss,
         round(avg(CASE WHEN (p > 0.5) = (y = 1)
                        THEN CAST(1.0 AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END), 4) AS accuracy
  FROM lr_s{rnd}
),
lr_w{rnd} AS (
  SELECT round(w.w0 - {LR_RATE!r} * g.g0, 9) AS w0,
         round(w.w1 - {LR_RATE!r} * g.g1, 9) AS w1,
         round(w.w2 - {LR_RATE!r} * g.g2, 9) AS w2
  FROM {prev_w} w, lr_g{rnd} g
)"""


def oracle_logreg(rounds: int = LR_ROUNDS) -> str:
    parts = [
        f"""
lr_feats AS (
  SELECT CAST((len(text) - len(replace(text, 'dup', ''))) / 3 AS DOUBLE)
           * 10.0 / len(split(text, ' ')) AS x1,
         len(split(text, ' ')) / CAST(50.0 AS DOUBLE)
           - CAST(1.0 AS DOUBLE) AS x2,
         CAST(n_chars > {LR_CHARS_THRESHOLD} AS INT) AS y
  FROM documents
),
lr_w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,
                 CAST(0.0 AS DOUBLE) AS w2)"""
    ]
    for rnd in range(1, rounds + 1):
        parts.append(_sql_round(f"lr_w{rnd - 1}", rnd))
    selects = [
        f"SELECT {r} AS round, w.w0, w.w1, w.w2, g.log_loss, g.accuracy"
        f" FROM lr_w{r} w, lr_g{r} g"
        for r in range(1, rounds + 1)
    ]
    union = "\nUNION ALL\n".join(selects)
    return ",".join(parts) + f",\nlogreg_train AS (\n{union}\n)"


# ---------------------------------------------------------------------------
# verified ordinary least squares (closed-form normal equations)
# ---------------------------------------------------------------------------

#: spend is scaled to integer cents-of-value so every moment is an
#: exact BIGINT; the Cramer algebra then runs in double with one fixed
#: operation order (IEEE ops on identical inputs are engine-exact) and
#: coefficients are rounded at the output edge.
OLS_Y_SCALE = 100


def ols_train(events: DataFrame) -> DataFrame:
    """Verified OLS: total purchase spend regressed on click/view
    counts, solved in CLOSED FORM from the normal equations — the
    second member of the verified-GLM family (logreg trains by GD;
    OLS needs no iterations at all).

    y = b0 + b1*clicks + b2*views per user. ONE hash-agg produces the
    2nd-order moment row (n, Sx1, Sx2, Sx11, Sx12, Sx22, Sy, Sx1y,
    Sx2y, Syy — all integer-exact); the 3x3 Cramer solve, R^2 and
    residual stats are map expressions on that single row. This is
    the textbook 100 TB shape: a full OLS fit costs exactly one scan
    + one 10-number shuffle, regardless of row count (features^2
    moments; the same plan at 1000 features is one wider agg).

    Output (stat, value) rows: beta0/beta1/beta2 (round 6), r2
    (round 6), n, plus sse/sst (round 4) so the R^2 is auditable.
    """
    feats = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("x1"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("x2"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.expr(
                        f"CAST(floor(value * {OLS_Y_SCALE}) AS BIGINT)"
                    ),
                )
            ),
            F.lit(0),
        ).alias("y"),
    )
    m = feats.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx11"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx12"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # Cramer in double with one fixed parenthesization (mirrored
    # textually in the oracle).
    c = [
        "CAST(n AS DOUBLE) AS dn",
        "CAST(sx1 AS DOUBLE) AS a1",
        "CAST(sx2 AS DOUBLE) AS a2",
        "CAST(sx11 AS DOUBLE) AS a11",
        "CAST(sx12 AS DOUBLE) AS a12",
        "CAST(sx22 AS DOUBLE) AS a22",
        "CAST(sy AS DOUBLE) AS b0",
        "CAST(sx1y AS DOUBLE) AS b1",
        "CAST(sx2y AS DOUBLE) AS b2",
        "CAST(syy AS DOUBLE) AS yy",
        "CAST(n AS BIGINT) AS n_keep",
    ]
    d = m.selectExpr(*c).selectExpr(
        "*",
        "dn * (a11 * a22 - a12 * a12) - a1 * (a1 * a22 - a12 * a2)"
        " + a2 * (a1 * a12 - a11 * a2) AS det",
        "b0 * (a11 * a22 - a12 * a12) - a1 * (b1 * a22 - a12 * b2)"
        " + a2 * (b1 * a12 - a11 * b2) AS det0",
        "dn * (b1 * a22 - a12 * b2) - b0 * (a1 * a22 - a12 * a2)"
        " + a2 * (a1 * b2 - b1 * a2) AS det1",
        "dn * (a11 * b2 - b1 * a12) - a1 * (a1 * b2 - b1 * a2)"
        " + b0 * (a1 * a12 - a11 * a2) AS det2",
    ).selectExpr(
        "n_keep",
        "det0 / det AS beta0",
        "det1 / det AS beta1",
        "det2 / det AS beta2",
        "yy - (det0 / det * b0 + det1 / det * b1 + det2 / det * b2)"
        " AS sse",
        "yy - b0 * b0 / dn AS sst",
    )
    return d.selectExpr(
        "stack(7,"
        " 'n', CAST(n_keep AS DOUBLE),"
        " 'beta0', round(beta0, 6),"
        " 'beta1', round(beta1, 6),"
        " 'beta2', round(beta2, 6),"
        " 'r2', round(1.0 - sse / sst, 6),"
        " 'sse', round(sse, 4),"
        " 'sst', round(sst, 4)) AS (stat, value)"
    )


ORACLE_OLS = f"""
ols_feats AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x1,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS x2,
         CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
              THEN CAST(floor(value * {OLS_Y_SCALE}) AS BIGINT) END), 0)
              AS BIGINT) AS y
  FROM events GROUP BY 1
),
ols_m AS (
  SELECT CAST(count(*) AS DOUBLE) AS dn,
         CAST(sum(x1) AS DOUBLE) AS a1,
         CAST(sum(x2) AS DOUBLE) AS a2,
         CAST(sum(x1 * x1) AS DOUBLE) AS a11,
         CAST(sum(x1 * x2) AS DOUBLE) AS a12,
         CAST(sum(x2 * x2) AS DOUBLE) AS a22,
         CAST(sum(y) AS DOUBLE) AS b0,
         CAST(sum(x1 * y) AS DOUBLE) AS b1,
         CAST(sum(x2 * y) AS DOUBLE) AS b2,
         CAST(sum(y * y) AS DOUBLE) AS yy,
         CAST(count(*) AS BIGINT) AS n_keep
  FROM ols_feats
),
ols_d AS (
  SELECT *,
         dn * (a11 * a22 - a12 * a12) - a1 * (a1 * a22 - a12 * a2)
           + a2 * (a1 * a12 - a11 * a2) AS det,
         b0 * (a11 * a22 - a12 * a12) - a1 * (b1 * a22 - a12 * b2)
           + a2 * (b1 * a12 - a11 * b2) AS det0,
         dn * (b1 * a22 - a12 * b2) - b0 * (a1 * a22 - a12 * a2)
           + a2 * (a1 * b2 - b1 * a2) AS det1,
         dn * (a11 * b2 - b1 * a12) - a1 * (a1 * b2 - b1 * a2)
           + b0 * (a1 * a12 - a11 * a2) AS det2
  FROM ols_m
),
ols_s AS (
  SELECT n_keep,
         det0 / det AS beta0, det1 / det AS beta1, det2 / det AS beta2,
         yy - (det0 / det * b0 + det1 / det * b1 + det2 / det * b2)
           AS sse,
         yy - b0 * b0 / dn AS sst
  FROM ols_d
),
ols_train AS (
  SELECT 'n' AS stat, CAST(n_keep AS DOUBLE) AS value FROM ols_s
  UNION ALL SELECT 'beta0', round(beta0, 6) FROM ols_s
  UNION ALL SELECT 'beta1', round(beta1, 6) FROM ols_s
  UNION ALL SELECT 'beta2', round(beta2, 6) FROM ols_s
  UNION ALL SELECT 'r2', round(1.0 - sse / sst, 6) FROM ols_s
  UNION ALL SELECT 'sse', round(sse, 4) FROM ols_s
  UNION ALL SELECT 'sst', round(sst, 4) FROM ols_s
)
"""


# ---------------------------------------------------------------------------
# split-conformal prediction intervals on the verified OLS
# ---------------------------------------------------------------------------

#: split-conformal setup: md5(user) % 4 -> {0,1}=train, 2=calibration,
#: 3=test; 90% target coverage. The calibration quantile is taken at
#: DOLLAR-bucket grain (residual cents // CONF_BUCKET, capped): the
#: cumulative walk then runs over <= CONF_MAX_BUCKETS rows no matter
#: how many users exist — the scale-correct alternative to an exact
#: k-th-smallest (which needs a corpus-grain global sort). Rounding
#: UP to the bucket edge keeps the guarantee conservative
#: (coverage >= target still holds).
CONF_ALPHA_PCT = 10
CONF_BUCKET = 100
CONF_MAX_BUCKETS = 2000


def conformal_ols(events: DataFrame) -> DataFrame:
    """Split-conformal prediction intervals (Vovk; Lei et al.) for
    the OLS spend model: fit on the train split (closed-form Cramer,
    same algebra as ``ols_train``), take the (1-alpha) quantile of
    absolute calibration residuals at dollar-bucket grain, and
    measure empirical coverage of ``prediction ± q`` on the held-out
    test split. Conformal's distribution-free guarantee (coverage >=
    1-alpha on exchangeable data) is exactly the kind of claim an
    engine should VERIFY rather than assert — the test-split coverage
    row is the check, and the conservative bucket-edge quantile keeps
    the guarantee intact.

    Scale: two hash-aggs over the corpus (train moments, calibration
    histogram) + one test agg; the quantile walk is a window over at
    most CONF_MAX_BUCKETS rows. Output (stat, value): n_train, n_cal,
    n_test, q_cents, coverage, target, avg_width_cents.
    """
    feats = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("x1"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("x2"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.expr(
                        f"CAST(floor(value * {OLS_Y_SCALE}) AS BIGINT)"
                    ),
                )
            ),
            F.lit(0),
        ).alias("y"),
    ).select(
        "*",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("conf:"),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("bigint")
            % 4
        ).alias("split"),
    )
    train = feats.filter(F.col("split") <= 1)
    m = train.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx11"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx12"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
    ).selectExpr(
        "CAST(n AS DOUBLE) AS dn",
        "CAST(sx1 AS DOUBLE) AS a1",
        "CAST(sx2 AS DOUBLE) AS a2",
        "CAST(sx11 AS DOUBLE) AS a11",
        "CAST(sx12 AS DOUBLE) AS a12",
        "CAST(sx22 AS DOUBLE) AS a22",
        "CAST(sy AS DOUBLE) AS b0",
        "CAST(sx1y AS DOUBLE) AS b1",
        "CAST(sx2y AS DOUBLE) AS b2",
        "CAST(n AS BIGINT) AS n_train",
    ).selectExpr(
        "n_train",
        "dn * (a11 * a22 - a12 * a12) - a1 * (a1 * a22 - a12 * a2)"
        " + a2 * (a1 * a12 - a11 * a2) AS det",
        "b0 * (a11 * a22 - a12 * a12) - a1 * (b1 * a22 - a12 * b2)"
        " + a2 * (b1 * a12 - a11 * b2) AS det0",
        "dn * (b1 * a22 - a12 * b2) - b0 * (a1 * a22 - a12 * a2)"
        " + a2 * (a1 * b2 - b1 * a2) AS det1",
        "dn * (a11 * b2 - b1 * a12) - a1 * (a1 * b2 - b1 * a2)"
        " + b0 * (a1 * a12 - a11 * a2) AS det2",
    ).selectExpr(
        "n_train",
        "round(det0 / det, 6) AS beta0",
        "round(det1 / det, 6) AS beta1",
        "round(det2 / det, 6) AS beta2",
    )
    scored = feats.crossJoin(F.broadcast(m)).select(
        "split",
        "y",
        (
            F.col("y").cast("double")
            - (
                F.col("beta0")
                + F.col("beta1") * F.col("x1")
                + F.col("beta2") * F.col("x2")
            )
        ).alias("resid"),
        F.col("n_train"),
    )
    cal_hist = (
        scored.filter(F.col("split") == 2)
        .select(
            F.least(
                F.floor(F.abs(F.col("resid")) / CONF_BUCKET).cast(
                    "bigint"
                ),
                F.lit(CONF_MAX_BUCKETS - 1),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )
    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wtot = Window.partitionBy()
    q_row = (
        cal_hist.select(
            "bucket",
            F.sum("cnt").over(wcum).alias("cum"),
            F.sum("cnt").over(wtot).alias("n_cal"),
        )
        .filter(
            F.col("cum") * 100 >= F.col("n_cal") * (100 - CONF_ALPHA_PCT)
        )
        .orderBy("bucket")
        .limit(1)
        .select(
            "n_cal",
            ((F.col("bucket") + 1) * CONF_BUCKET).alias("q_cents"),
        )
    )
    test_cov = (
        scored.filter(F.col("split") == 3)
        .crossJoin(F.broadcast(q_row))
        .agg(
            F.first("n_train").alias("n_train"),
            F.first("n_cal").alias("n_cal"),
            F.count("*").alias("n_test"),
            F.first("q_cents").alias("q_cents"),
            F.round(
                F.sum(
                    (F.abs(F.col("resid")) <= F.col("q_cents")).cast(
                        "bigint"
                    )
                )
                / F.count("*"),
                4,
            ).alias("coverage"),
        )
    )
    return test_cov.selectExpr(
        "stack(7,"
        " 'n_train', CAST(n_train AS DOUBLE),"
        " 'n_cal', CAST(n_cal AS DOUBLE),"
        " 'n_test', CAST(n_test AS DOUBLE),"
        " 'q_cents', CAST(q_cents AS DOUBLE),"
        " 'coverage', coverage,"
        f" 'target', CAST({100 - CONF_ALPHA_PCT} AS DOUBLE) / 100,"
        " 'avg_width_cents', CAST(2 * q_cents AS DOUBLE))"
        " AS (stat, value)"
    )


ORACLE_CONFORMAL = f"""
cf_feats AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x1,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS x2,
         CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
              THEN CAST(floor(value * {OLS_Y_SCALE}) AS BIGINT) END), 0)
              AS BIGINT) AS y,
         CAST(('0x' || substr(md5('conf:' || CAST(user_id AS VARCHAR)),
               1, 13)) AS BIGINT) % 4 AS split
  FROM events GROUP BY 1
),
cf_m AS (
  SELECT CAST(count(*) AS DOUBLE) AS dn,
         CAST(sum(x1) AS DOUBLE) AS a1,
         CAST(sum(x2) AS DOUBLE) AS a2,
         CAST(sum(x1 * x1) AS DOUBLE) AS a11,
         CAST(sum(x1 * x2) AS DOUBLE) AS a12,
         CAST(sum(x2 * x2) AS DOUBLE) AS a22,
         CAST(sum(y) AS DOUBLE) AS b0,
         CAST(sum(x1 * y) AS DOUBLE) AS b1,
         CAST(sum(x2 * y) AS DOUBLE) AS b2,
         CAST(count(*) AS BIGINT) AS n_train
  FROM cf_feats WHERE split <= 1
),
cf_d AS (
  SELECT n_train,
         dn * (a11 * a22 - a12 * a12) - a1 * (a1 * a22 - a12 * a2)
           + a2 * (a1 * a12 - a11 * a2) AS det,
         b0 * (a11 * a22 - a12 * a12) - a1 * (b1 * a22 - a12 * b2)
           + a2 * (b1 * a12 - a11 * b2) AS det0,
         dn * (b1 * a22 - a12 * b2) - b0 * (a1 * a22 - a12 * a2)
           + a2 * (a1 * b2 - b1 * a2) AS det1,
         dn * (a11 * b2 - b1 * a12) - a1 * (a1 * b2 - b1 * a2)
           + b0 * (a1 * a12 - a11 * a2) AS det2
  FROM cf_m
),
cf_b AS (
  SELECT n_train, round(det0 / det, 6) AS beta0,
         round(det1 / det, 6) AS beta1, round(det2 / det, 6) AS beta2
  FROM cf_d
),
cf_scored AS (
  SELECT f.split, f.y, m.n_train,
         CAST(f.y AS DOUBLE)
           - (m.beta0 + m.beta1 * f.x1 + m.beta2 * f.x2) AS resid
  FROM cf_feats f, cf_b m
),
cf_hist AS (
  SELECT least(CAST(floor(abs(resid) / {CONF_BUCKET}) AS BIGINT),
               {CONF_MAX_BUCKETS - 1}) AS bucket,
         count(*) AS cnt
  FROM cf_scored WHERE split = 2
  GROUP BY 1
),
cf_q AS (
  SELECT n_cal, (bucket + 1) * {CONF_BUCKET} AS q_cents
  FROM (
    SELECT bucket,
           sum(cnt) OVER (ORDER BY bucket
                          ROWS UNBOUNDED PRECEDING) AS cum,
           sum(cnt) OVER () AS n_cal
    FROM cf_hist
  )
  WHERE cum * 100 >= n_cal * {100 - CONF_ALPHA_PCT}
  ORDER BY bucket LIMIT 1
),
cf_cov AS (
  SELECT CAST(max(s.n_train) AS BIGINT) AS n_train,
         CAST(max(q.n_cal) AS BIGINT) AS n_cal,
         CAST(count(*) AS BIGINT) AS n_test,
         CAST(max(q.q_cents) AS BIGINT) AS q_cents,
         round(sum(CASE WHEN abs(s.resid) <= q.q_cents
                        THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE), 4) AS coverage
  FROM cf_scored s, cf_q q WHERE s.split = 3
),
conformal_ols AS (
  SELECT 'n_train' AS stat, CAST(n_train AS DOUBLE) AS value FROM cf_cov
  UNION ALL SELECT 'n_cal', CAST(n_cal AS DOUBLE) FROM cf_cov
  UNION ALL SELECT 'n_test', CAST(n_test AS DOUBLE) FROM cf_cov
  UNION ALL SELECT 'q_cents', CAST(q_cents AS DOUBLE) FROM cf_cov
  UNION ALL SELECT 'coverage', coverage FROM cf_cov
  UNION ALL SELECT 'target',
    CAST({100 - CONF_ALPHA_PCT} AS DOUBLE) / 100 FROM cf_cov
  UNION ALL SELECT 'avg_width_cents', CAST(2 * q_cents AS DOUBLE)
  FROM cf_cov
)
"""


# ---------------------------------------------------------------------------
# k-fold OLS cross-validation by moment subtraction (one pass)
# ---------------------------------------------------------------------------

OLS_CV_FOLDS = 4


def ols_cv(events: DataFrame, k: int = OLS_CV_FOLDS) -> DataFrame:
    """Leakage-safe k-fold CV for the closed-form OLS — trained for
    ALL folds in ONE corpus pass: per-fold second-order moments from
    one grouped agg, each fold's training moments by SUBTRACTION
    (total - fold), betas by the same Cramer solve, and the held-out
    fold's SSE expanded algebraically from its own moments
    (SSE = Syy + b'X'Xb - 2 b'X'y — no second scan, no per-fold
    filter jobs). The same trick the NB classifier's k-fold CV uses
    (count subtraction); here it is moment subtraction.

    Scale: one hash-agg over users grouped by the md5 fold -> k
    moment rows; everything else is 1-row-per-fold algebra. k-fold CV
    costs exactly what a single fit costs. Output per fold: fold,
    n_test, beta0/1/2 (round 6), r2_test (round 6).
    """
    feats = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("x1"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("x2"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.expr(
                        f"CAST(floor(value * {OLS_Y_SCALE}) AS BIGINT)"
                    ),
                )
            ),
            F.lit(0),
        ).alias("y"),
    ).select(
        "*",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("olscv:"),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("bigint")
            % k
        ).alias("fold"),
    )
    fm = feats.groupBy("fold").agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx11"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx12"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    tot = fm.agg(
        *[
            F.sum(c).alias(f"t_{c}")
            for c in (
                "n", "sx1", "sx2", "sx11", "sx12", "sx22",
                "sy", "sx1y", "sx2y", "syy",
            )
        ]
    )
    tr = fm.crossJoin(F.broadcast(tot)).selectExpr(
        "fold",
        "CAST(n AS BIGINT) AS n_test",
        # held-out fold's own moments (doubles for the SSE expansion)
        *[
            f"CAST({c} AS DOUBLE) AS f_{c}"
            for c in (
                "n", "sx1", "sx2", "sx11", "sx12", "sx22",
                "sy", "sx1y", "sx2y", "syy",
            )
        ],
        # training moments by subtraction
        "CAST(t_n - n AS DOUBLE) AS dn",
        "CAST(t_sx1 - sx1 AS DOUBLE) AS a1",
        "CAST(t_sx2 - sx2 AS DOUBLE) AS a2",
        "CAST(t_sx11 - sx11 AS DOUBLE) AS a11",
        "CAST(t_sx12 - sx12 AS DOUBLE) AS a12",
        "CAST(t_sx22 - sx22 AS DOUBLE) AS a22",
        "CAST(t_sy - sy AS DOUBLE) AS b0",
        "CAST(t_sx1y - sx1y AS DOUBLE) AS b1",
        "CAST(t_sx2y - sx2y AS DOUBLE) AS b2",
    ).selectExpr(
        "fold", "n_test",
        "f_syy", "f_sy", "f_n", "f_sx1", "f_sx2", "f_sx11",
        "f_sx12", "f_sx22", "f_sx1y", "f_sx2y",
        "dn * (a11 * a22 - a12 * a12) - a1 * (a1 * a22 - a12 * a2)"
        " + a2 * (a1 * a12 - a11 * a2) AS det",
        "b0 * (a11 * a22 - a12 * a12) - a1 * (b1 * a22 - a12 * b2)"
        " + a2 * (b1 * a12 - a11 * b2) AS det0",
        "dn * (b1 * a22 - a12 * b2) - b0 * (a1 * a22 - a12 * a2)"
        " + a2 * (a1 * b2 - b1 * a2) AS det1",
        "dn * (a11 * b2 - b1 * a12) - a1 * (a1 * b2 - b1 * a2)"
        " + b0 * (a1 * a12 - a11 * a2) AS det2",
    ).selectExpr(
        "fold", "n_test",
        "f_syy", "f_sy", "f_n", "f_sx1", "f_sx2", "f_sx11",
        "f_sx12", "f_sx22", "f_sx1y", "f_sx2y",
        "round(det0 / det, 6) AS beta0",
        "round(det1 / det, 6) AS beta1",
        "round(det2 / det, 6) AS beta2",
    ).selectExpr(
        "fold", "n_test", "beta0", "beta1", "beta2",
        # SSE expanded from held-out moments with the ROUNDED betas
        "round(1.0 - (f_syy + beta0 * beta0 * f_n"
        " + beta1 * beta1 * f_sx11 + beta2 * beta2 * f_sx22"
        " - 2 * beta0 * f_sy - 2 * beta1 * f_sx1y"
        " - 2 * beta2 * f_sx2y + 2 * beta0 * beta1 * f_sx1"
        " + 2 * beta0 * beta2 * f_sx2 + 2 * beta1 * beta2 * f_sx12)"
        " / (f_syy - f_sy * f_sy / f_n), 6) AS r2_test",
    )
    return tr


def oracle_ols_cv(k: int = OLS_CV_FOLDS) -> str:
    cols = (
        "n", "sx1", "sx2", "sx11", "sx12", "sx22",
        "sy", "sx1y", "sx2y", "syy",
    )
    tot_sel = ", ".join(f"sum({c}) AS t_{c}" for c in cols)
    f_sel = ", ".join(f"CAST({c} AS DOUBLE) AS f_{c}" for c in cols)
    return f"""
ocv_feats AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x1,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS x2,
         CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
              THEN CAST(floor(value * {OLS_Y_SCALE}) AS BIGINT) END), 0)
              AS BIGINT) AS y,
         CAST(('0x' || substr(md5('olscv:' || CAST(user_id AS VARCHAR)),
               1, 13)) AS BIGINT) % {k} AS fold
  FROM events GROUP BY 1
),
ocv_fm AS (
  SELECT fold, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS sx1,
         CAST(sum(x2) AS BIGINT) AS sx2,
         CAST(sum(x1 * x1) AS BIGINT) AS sx11,
         CAST(sum(x1 * x2) AS BIGINT) AS sx12,
         CAST(sum(x2 * x2) AS BIGINT) AS sx22,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x1 * y) AS BIGINT) AS sx1y,
         CAST(sum(x2 * y) AS BIGINT) AS sx2y,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM ocv_feats GROUP BY 1
),
ocv_tot AS (SELECT {tot_sel} FROM ocv_fm),
ocv_tr AS (
  SELECT fold, n AS n_test, {f_sel},
         CAST(t_n - n AS DOUBLE) AS dn,
         CAST(t_sx1 - sx1 AS DOUBLE) AS a1,
         CAST(t_sx2 - sx2 AS DOUBLE) AS a2,
         CAST(t_sx11 - sx11 AS DOUBLE) AS a11,
         CAST(t_sx12 - sx12 AS DOUBLE) AS a12,
         CAST(t_sx22 - sx22 AS DOUBLE) AS a22,
         CAST(t_sy - sy AS DOUBLE) AS b0,
         CAST(t_sx1y - sx1y AS DOUBLE) AS b1,
         CAST(t_sx2y - sx2y AS DOUBLE) AS b2
  FROM ocv_fm, ocv_tot
),
ocv_d AS (
  SELECT fold, n_test, f_syy, f_sy, f_n, f_sx1, f_sx2, f_sx11,
         f_sx12, f_sx22, f_sx1y, f_sx2y,
         dn * (a11 * a22 - a12 * a12) - a1 * (a1 * a22 - a12 * a2)
           + a2 * (a1 * a12 - a11 * a2) AS det,
         b0 * (a11 * a22 - a12 * a12) - a1 * (b1 * a22 - a12 * b2)
           + a2 * (b1 * a12 - a11 * b2) AS det0,
         dn * (b1 * a22 - a12 * b2) - b0 * (a1 * a22 - a12 * a2)
           + a2 * (a1 * b2 - b1 * a2) AS det1,
         dn * (a11 * b2 - b1 * a12) - a1 * (a1 * b2 - b1 * a2)
           + b0 * (a1 * a12 - a11 * a2) AS det2
  FROM ocv_tr
),
ocv_b AS (
  SELECT fold, n_test, f_syy, f_sy, f_n, f_sx1, f_sx2, f_sx11,
         f_sx12, f_sx22, f_sx1y, f_sx2y,
         round(det0 / det, 6) AS beta0,
         round(det1 / det, 6) AS beta1,
         round(det2 / det, 6) AS beta2
  FROM ocv_d
),
ols_cv AS (
  SELECT fold, n_test, beta0, beta1, beta2,
         round(1.0 - (f_syy + beta0 * beta0 * f_n
               + beta1 * beta1 * f_sx11 + beta2 * beta2 * f_sx22
               - 2 * beta0 * f_sy - 2 * beta1 * f_sx1y
               - 2 * beta2 * f_sx2y + 2 * beta0 * beta1 * f_sx1
               + 2 * beta0 * beta2 * f_sx2
               + 2 * beta1 * beta2 * f_sx12)
               / (f_syy - f_sy * f_sy / f_n), 6) AS r2_test
  FROM ocv_b
)
"""


# ---------------------------------------------------------------------------
# verified ridge regression (closed-form, L2-regularized OLS)
# ---------------------------------------------------------------------------

#: ridge penalty on the slope coefficients (intercept unpenalized —
#: the standard convention); integer so the regularized Gram matrix
#: stays integer-exact before the double Cramer solve.
RIDGE_LAMBDA = 1000


def ridge_train(events: DataFrame, lam: int = RIDGE_LAMBDA) -> DataFrame:
    """Verified ridge regression — the L2-regularized sibling of
    ``ols_train``, same features (spend ~ clicks + views), solved in
    closed form from (X'X + λI')β = X'y where λ is added to the SLOPE
    diagonal entries only (a11, a22): the intercept stays
    unpenalized, the textbook convention. Identical 100 TB shape —
    ONE scan to a 10-number integer moment row, Cramer 3x3 in one
    fixed double order — because regularization changes two matrix
    entries, not the plan. Shipping ridge beside OLS lets the engine
    show shrinkage verifiably: |beta_ridge| <= |beta_ols| on the
    same moments.

    Output (stat, value): n, lambda, beta0, beta1, beta2 (round 6).
    """
    feats = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("x1"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("x2"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.expr(
                        f"CAST(floor(value * {OLS_Y_SCALE}) AS BIGINT)"
                    ),
                )
            ),
            F.lit(0),
        ).alias("y"),
    )
    m = feats.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        (F.sum(F.col("x1") * F.col("x1")) + F.lit(lam)).alias("sx11"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx12"),
        (F.sum(F.col("x2") * F.col("x2")) + F.lit(lam)).alias("sx22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
    )
    d = m.selectExpr(
        "CAST(n AS DOUBLE) AS dn",
        "CAST(sx1 AS DOUBLE) AS a1",
        "CAST(sx2 AS DOUBLE) AS a2",
        "CAST(sx11 AS DOUBLE) AS a11",
        "CAST(sx12 AS DOUBLE) AS a12",
        "CAST(sx22 AS DOUBLE) AS a22",
        "CAST(sy AS DOUBLE) AS b0",
        "CAST(sx1y AS DOUBLE) AS b1",
        "CAST(sx2y AS DOUBLE) AS b2",
        "CAST(n AS BIGINT) AS n_keep",
    ).selectExpr(
        "*",
        "dn * (a11 * a22 - a12 * a12) - a1 * (a1 * a22 - a12 * a2)"
        " + a2 * (a1 * a12 - a11 * a2) AS det",
        "b0 * (a11 * a22 - a12 * a12) - a1 * (b1 * a22 - a12 * b2)"
        " + a2 * (b1 * a12 - a11 * b2) AS det0",
        "dn * (b1 * a22 - a12 * b2) - b0 * (a1 * a22 - a12 * a2)"
        " + a2 * (a1 * b2 - b1 * a2) AS det1",
        "dn * (a11 * b2 - b1 * a12) - a1 * (a1 * b2 - b1 * a2)"
        " + b0 * (a1 * a12 - a11 * a2) AS det2",
    )
    rows = []
    rows.append(("n", "CAST(n_keep AS DOUBLE)"))
    rows.append(("lambda", f"CAST({lam} AS DOUBLE)"))
    rows.append(("beta0", "round(det0 / det, 6)"))
    rows.append(("beta1", "round(det1 / det, 6)"))
    rows.append(("beta2", "round(det2 / det, 6)"))
    out = None
    for stat, expr in rows:
        r = d.selectExpr(f"'{stat}' AS stat", f"{expr} AS value")
        out = r if out is None else out.unionByName(r)
    return out


def oracle_ridge(lam: int = RIDGE_LAMBDA) -> str:
    return f"""
rg_feats AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x1,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS x2,
         CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
              THEN CAST(floor(value * {OLS_Y_SCALE}) AS BIGINT) END), 0)
              AS BIGINT) AS y
  FROM events GROUP BY 1
),
rg_m AS (
  SELECT CAST(count(*) AS DOUBLE) AS dn,
         CAST(sum(x1) AS DOUBLE) AS a1,
         CAST(sum(x2) AS DOUBLE) AS a2,
         CAST(sum(x1 * x1) + {lam} AS DOUBLE) AS a11,
         CAST(sum(x1 * x2) AS DOUBLE) AS a12,
         CAST(sum(x2 * x2) + {lam} AS DOUBLE) AS a22,
         CAST(sum(y) AS DOUBLE) AS b0,
         CAST(sum(x1 * y) AS DOUBLE) AS b1,
         CAST(sum(x2 * y) AS DOUBLE) AS b2,
         CAST(count(*) AS BIGINT) AS n_keep
  FROM rg_feats
),
rg_d AS (
  SELECT *,
         dn * (a11 * a22 - a12 * a12) - a1 * (a1 * a22 - a12 * a2)
           + a2 * (a1 * a12 - a11 * a2) AS det,
         b0 * (a11 * a22 - a12 * a12) - a1 * (b1 * a22 - a12 * b2)
           + a2 * (b1 * a12 - a11 * b2) AS det0,
         dn * (b1 * a22 - a12 * b2) - b0 * (a1 * a22 - a12 * a2)
           + a2 * (a1 * b2 - b1 * a2) AS det1,
         dn * (a11 * b2 - b1 * a12) - a1 * (a1 * b2 - b1 * a2)
           + b0 * (a1 * a12 - a11 * a2) AS det2
  FROM rg_m
),
ridge_train AS (
  SELECT 'n' AS stat, CAST(n_keep AS DOUBLE) AS value FROM rg_d
  UNION ALL SELECT 'lambda', CAST({lam} AS DOUBLE) FROM rg_d
  UNION ALL SELECT 'beta0', round(det0 / det, 6) FROM rg_d
  UNION ALL SELECT 'beta1', round(det1 / det, 6) FROM rg_d
  UNION ALL SELECT 'beta2', round(det2 / det, 6) FROM rg_d
)
"""


# ---------------------------------------------------------------------------
# Granger causality (do lagged clicks predict revenue beyond its own lag?)
# ---------------------------------------------------------------------------

#: F critical value at alpha=0.05 for df1=1, df2~60.
GRANGER_F_CRIT = 4.00


def granger_test(events: DataFrame) -> DataFrame:
    """Granger causality test on the daily series: does yesterday's
    CLICK count improve today's revenue prediction beyond yesterday's
    revenue itself? Restricted model y_t ~ y_{t-1} (2×2 closed form)
    vs full model y_t ~ y_{t-1} + clk_{t-1} (the 3×3 Cramer solve of
    the verified-OLS family); F = (SSE_r − SSE_f) / (SSE_f/(n−3)),
    df1 = 1 with a fixed critical literal.

    Both regressions come from ONE moment row: the fact table
    collapses to the day grain, lags are one window over the bounded
    day series (calendar gaps treated as consecutive observations —
    documented), and all ten moments are exact BIGINT cent products.
    At ~1e9 cents/day the y² moments near BIGINT range —
    decimal(38,0) swap, plan unchanged.

    Output (1 row): n_days, beta_lag_rev, beta_lag_clicks, sse_r,
    sse_f, f_stat, granger_causes.
    """
    daily = (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                ).otherwise(0)
            ).alias("rev"),
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("clk"),
        )
    )
    w = Window.orderBy("day")
    rows = (
        daily.select(
            F.col("rev").alias("y"),
            F.lag("rev").over(w).alias("x1"),
            F.lag("clk").over(w).alias("x2"),
        )
        .filter(F.col("x1").isNotNull())
    )
    m = rows.agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx11"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx12"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    d = m.selectExpr(
        "CAST(n AS DOUBLE) AS dn",
        "CAST(sx1 AS DOUBLE) AS a1",
        "CAST(sx2 AS DOUBLE) AS a2",
        "CAST(sx11 AS DOUBLE) AS a11",
        "CAST(sx12 AS DOUBLE) AS a12",
        "CAST(sx22 AS DOUBLE) AS a22",
        "CAST(sy AS DOUBLE) AS b0",
        "CAST(sx1y AS DOUBLE) AS b1",
        "CAST(sx2y AS DOUBLE) AS b2",
        "CAST(syy AS DOUBLE) AS yy",
        "CAST(n AS BIGINT) AS n_days",
    ).selectExpr(
        "*",
        # full 3x3 Cramer (fixed parenthesization, oracle-mirrored)
        "dn * (a11 * a22 - a12 * a12) - a1 * (a1 * a22 - a12 * a2)"
        " + a2 * (a1 * a12 - a11 * a2) AS det",
        "b0 * (a11 * a22 - a12 * a12) - a1 * (b1 * a22 - a12 * b2)"
        " + a2 * (b1 * a12 - a11 * b2) AS det0",
        "dn * (b1 * a22 - a12 * b2) - b0 * (a1 * a22 - a12 * a2)"
        " + a2 * (a1 * b2 - b1 * a2) AS det1",
        "dn * (a11 * b2 - b1 * a12) - a1 * (a1 * b2 - b1 * a2)"
        " + b0 * (a1 * a12 - a11 * a2) AS det2",
        # restricted 2x2
        "dn * a11 - a1 * a1 AS detr",
        "b0 * a11 - a1 * b1 AS det0r",
        "dn * b1 - b0 * a1 AS det1r",
    ).selectExpr(
        "n_days",
        "det1 / det AS beta1",
        "det2 / det AS beta2",
        "yy - (det0 / det * b0 + det1 / det * b1 + det2 / det * b2)"
        " AS sse_f",
        "yy - (det0r / detr * b0 + det1r / detr * b1) AS sse_r",
    )
    fstat = (F.col("sse_r") - F.col("sse_f")) / (
        F.col("sse_f") / (F.col("n_days").cast("double") - 3)
    )
    return d.select(
        "n_days",
        F.round("beta1", 6).alias("beta_lag_rev"),
        F.round("beta2", 6).alias("beta_lag_clicks"),
        F.round("sse_r", 2).alias("sse_r"),
        F.round("sse_f", 2).alias("sse_f"),
        F.round(fstat, 6).alias("f_stat"),
        (F.round(fstat, 6) > GRANGER_F_CRIT).alias("granger_causes"),
    )


ORACLE_GRANGER = f"""
gr_daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS rev,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS clk
  FROM events GROUP BY 1
),
gr_rows AS (
  SELECT y, x1, x2 FROM (
    SELECT rev AS y,
           lag(rev) OVER (ORDER BY day) AS x1,
           lag(clk) OVER (ORDER BY day) AS x2
    FROM gr_daily
  ) WHERE x1 IS NOT NULL
),
gr_m AS (
  SELECT CAST(count(*) AS DOUBLE) AS dn,
         CAST(sum(x1) AS DOUBLE) AS a1,
         CAST(sum(x2) AS DOUBLE) AS a2,
         CAST(sum(x1 * x1) AS DOUBLE) AS a11,
         CAST(sum(x1 * x2) AS DOUBLE) AS a12,
         CAST(sum(x2 * x2) AS DOUBLE) AS a22,
         CAST(sum(y) AS DOUBLE) AS b0,
         CAST(sum(x1 * y) AS DOUBLE) AS b1,
         CAST(sum(x2 * y) AS DOUBLE) AS b2,
         CAST(sum(y * y) AS DOUBLE) AS yy,
         CAST(count(*) AS BIGINT) AS n_days
  FROM gr_rows
),
gr_d AS (
  SELECT *,
         dn * (a11 * a22 - a12 * a12) - a1 * (a1 * a22 - a12 * a2)
           + a2 * (a1 * a12 - a11 * a2) AS det,
         b0 * (a11 * a22 - a12 * a12) - a1 * (b1 * a22 - a12 * b2)
           + a2 * (b1 * a12 - a11 * b2) AS det0,
         dn * (b1 * a22 - a12 * b2) - b0 * (a1 * a22 - a12 * a2)
           + a2 * (a1 * b2 - b1 * a2) AS det1,
         dn * (a11 * b2 - b1 * a12) - a1 * (a1 * b2 - b1 * a2)
           + b0 * (a1 * a12 - a11 * a2) AS det2,
         dn * a11 - a1 * a1 AS detr,
         b0 * a11 - a1 * b1 AS det0r,
         dn * b1 - b0 * a1 AS det1r
  FROM gr_m
),
gr_s AS (
  SELECT n_days,
         det1 / det AS beta1,
         det2 / det AS beta2,
         yy - (det0 / det * b0 + det1 / det * b1 + det2 / det * b2)
           AS sse_f,
         yy - (det0r / detr * b0 + det1r / detr * b1) AS sse_r
  FROM gr_d
),
granger_test AS (
  SELECT n_days,
         round(beta1, 6) AS beta_lag_rev,
         round(beta2, 6) AS beta_lag_clicks,
         round(sse_r, 2) AS sse_r,
         round(sse_f, 2) AS sse_f,
         round((sse_r - sse_f) / (sse_f / (CAST(n_days AS DOUBLE) - 3)),
               6) AS f_stat,
         round((sse_r - sse_f) / (sse_f / (CAST(n_days AS DOUBLE) - 3)),
               6) > {GRANGER_F_CRIT} AS granger_causes
  FROM gr_s
)
"""


# ---------------------------------------------------------------------------
# verified Poisson GLM (Newton-unrolled, day-grain trend model)
# ---------------------------------------------------------------------------

#: unrolled Newton-Raphson steps (from beta = 0; the day-grain
#: trend model converges to ~1e-9 in 3).
POISSON_NEWTON_STEPS = 3


def poisson_train(events: DataFrame) -> DataFrame:
    """Verified Poisson GLM: daily purchase COUNT regressed on a
    centered integer day-index trend, log link — the count-data
    member of the verified-GLM family (OLS/ridge closed-form, logreg
    GD, now Poisson Newton). Each Newton step is one pass over the
    BOUNDED day grain: λ = exp(β0 + β1·z) per row, five moment sums
    (g0, g1, h00, h01, h11), one 2×2 solve — unrolled
    {steps}× from β = 0, so the whole fit is a fixed chain of
    cell-grain aggregates the oracle replays as MATERIALIZED CTEs.
    The fact table is touched ONCE (the day collapse); at 100 TB the
    iteration cost is calendar-bounded, not data-bounded.

    Output (stat, value): n_days, beta0, beta1, deviance.
    """
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("y"))
    )
    span = daily.agg(
        F.min("day").alias("d0"), F.count("*").alias("n_days")
    )
    days = _cut(
        daily.crossJoin(F.broadcast(span))
        .select("y", F.datediff("day", "d0").alias("t"))
    )
    mid = days.agg(
        (F.sum("t") / F.count("*")).alias("tbar")
    )
    base = _cut(days.crossJoin(F.broadcast(mid)).select(
        "y", (F.col("t").cast("double") - F.col("tbar")).alias("z")
    ))
    beta = base.agg(
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1")
    ).select("b0", "b1")
    for _ in range(POISSON_NEWTON_STEPS):
        lam = F.exp(F.col("b0") + F.col("b1") * F.col("z"))
        m = base.crossJoin(F.broadcast(beta)).agg(
            F.max("b0").alias("b0"),
            F.max("b1").alias("b1"),
            F.sum(F.col("y") - lam).alias("g0"),
            F.sum((F.col("y") - lam) * F.col("z")).alias("g1"),
            F.sum(lam).alias("h00"),
            F.sum(lam * F.col("z")).alias("h01"),
            F.sum(lam * F.col("z") * F.col("z")).alias("h11"),
        )
        det = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
        beta = m.select(
            (
                F.col("b0")
                + (F.col("g0") * F.col("h11") - F.col("g1") * F.col("h01"))
                / det
            ).alias("b0"),
            (
                F.col("b1")
                + (F.col("h00") * F.col("g1") - F.col("h01") * F.col("g0"))
                / det
            ).alias("b1"),
        )
    lam = F.exp(F.col("b0") + F.col("b1") * F.col("z"))
    fit = base.crossJoin(F.broadcast(beta)).agg(
        F.count("*").alias("n_days"),
        F.max("b0").alias("b0"),
        F.max("b1").alias("b1"),
        F.sum(
            F.lit(2.0)
            * (
                F.when(
                    F.col("y") > 0,
                    F.col("y")
                    * F.log(F.col("y").cast("double") / lam),
                ).otherwise(F.lit(0.0))
                - (F.col("y") - lam)
            )
        ).alias("deviance"),
    )
    return fit.selectExpr(
        "stack(4,"
        " 'n_days', CAST(n_days AS DOUBLE),"
        " 'beta0', round(b0, 6),"
        " 'beta1', round(b1, 6),"
        " 'deviance', round(deviance, 4)) AS (stat, value)"
    )


poisson_train.__doc__ = poisson_train.__doc__.format(
    steps=POISSON_NEWTON_STEPS
)


def oracle_poisson(steps: int = POISSON_NEWTON_STEPS) -> str:
    ctes = [
        """
po_daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
po_base AS MATERIALIZED (
  SELECT y,
         CAST(date_diff('day',
              (SELECT min(day) FROM po_daily), day) AS DOUBLE)
           - (SELECT sum(CAST(date_diff('day',
                  (SELECT min(day) FROM po_daily), day) AS BIGINT))
                  / CAST(count(*) AS DOUBLE)
              FROM po_daily) AS z
  FROM po_daily
),
po_b0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1)"""
    ]
    prev = "po_b0"
    for i in range(1, steps + 1):
        ctes.append(
            f"""
po_m{i} AS MATERIALIZED (
  SELECT max(b.b0) AS b0, max(b.b1) AS b1,
         sum(d.y - exp(b.b0 + b.b1 * d.z)) AS g0,
         sum((d.y - exp(b.b0 + b.b1 * d.z)) * d.z) AS g1,
         sum(exp(b.b0 + b.b1 * d.z)) AS h00,
         sum(exp(b.b0 + b.b1 * d.z) * d.z) AS h01,
         sum(exp(b.b0 + b.b1 * d.z) * d.z * d.z) AS h11
  FROM po_base d, {prev} b
),
po_b{i} AS MATERIALIZED (
  SELECT b0 + (g0 * h11 - g1 * h01) / (h00 * h11 - h01 * h01) AS b0,
         b1 + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01) AS b1
  FROM po_m{i}
)"""
        )
        prev = f"po_b{i}"
    ctes.append(
        f"""
po_fit AS MATERIALIZED (
  SELECT CAST(count(*) AS DOUBLE) AS nd,
         round(max(b.b0), 6) AS rb0,
         round(max(b.b1), 6) AS rb1,
         round(sum(2.0 * ((CASE WHEN d.y > 0
                THEN d.y * ln(CAST(d.y AS DOUBLE)
                              / exp(b.b0 + b.b1 * d.z))
                ELSE 0.0 END)
               - (d.y - exp(b.b0 + b.b1 * d.z)))), 4) AS dev
  FROM po_base d, {prev} b
),
poisson_train AS (
  SELECT 'n_days' AS stat, nd AS value FROM po_fit
  UNION ALL SELECT 'beta0', rb0 FROM po_fit
  UNION ALL SELECT 'beta1', rb1 FROM po_fit
  UNION ALL SELECT 'deviance', dev FROM po_fit
)"""
    )
    return ",".join(ctes)


# ---------------------------------------------------------------------------
# isotonic regression (PAV) — score calibration, minimax formulation
# ---------------------------------------------------------------------------

#: score bins for the calibration curve. Raw scores quantize to at
#: most this many bins BEFORE any quadratic work, so everything after
#: the one user-grain agg is <= ISO_BINS^2 rows — data-independent,
#: the binning-first discipline every production calibrator uses.
ISO_BINS = 32


def isotonic_calibration(events: DataFrame) -> DataFrame:
    """Isotonic regression (pool-adjacent-violators) of conversion
    rate on an engagement score — the calibration layer that turns a
    ranking score into a monotone probability, closing the verified
    model-quality family (logreg gives scores, this makes them honest).

    Instead of the sequential stack-based PAV, the fit uses the exact
    MINIMAX characterization (Robertson-Wright-Dykstra):

        iso(i) = max_{j<=i} min_{k>=i} mean(y over bins j..k)

    which is pure dataflow: prefix sums over the bin grain (via the
    distributed-rank kernel — no global window), one bounded
    inequality self-join to form (j,k) interval means as ratios of
    BIGINT prefix differences, a per-j running min over k DESC, and a
    max per i. Every mean is the same double division of the same two
    BIGINTs in both engines, and min/max are order-insensitive, so
    the fit hash-matches DuckDB exactly.

    Scale: ONE corpus pass to the user grain, one hash-agg to
    <= ISO_BINS rows; the quadratic interval table is ISO_BINS^2 rows
    BY CONSTRUCTION, so the plan is identical at 100 TB (same shape
    discipline as qini_uplift's decile grain).

    Output per bin: bin, n_users, n_pos, rate, iso_rate (round 6;
    iso_rate is nondecreasing in bin — the PAV contract).
    """
    per_user = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("x"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("y"),
    )
    bins = (
        per_user.select(
            F.least(F.col("x"), F.lit(ISO_BINS - 1))
            .cast("int")
            .alias("b"),
            "y",
        )
        .groupBy("b")
        .agg(F.count("*").alias("sw"), F.sum("y").alias("sy"))
    )
    pre = _rank.global_ranked(
        bins, [F.col("b")], sum_cols=["sw", "sy"]
    ).select(
        "b",
        "sw",
        "sy",
        (F.col("_run_sw") - F.col("sw")).alias("pj_sw"),
        (F.col("_run_sy") - F.col("sy")).alias("pj_sy"),
        F.col("_run_sw").alias("rk_sw"),
        F.col("_run_sy").alias("rk_sy"),
    )
    j = pre.select(
        F.col("b").alias("jb"), "pj_sw", "pj_sy"
    )
    k = pre.select(
        F.col("b").alias("kb"), "rk_sw", "rk_sy"
    )
    pairs = j.join(k, F.col("jb") <= F.col("kb")).select(
        "jb",
        "kb",
        (
            (F.col("rk_sy") - F.col("pj_sy")).cast("double")
            / (F.col("rk_sw") - F.col("pj_sw")).cast("double")
        ).alias("mean_jk"),
    )
    wmin = (
        Window.partitionBy("jb")
        .orderBy(F.desc("kb"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # row (jb, i=kb) now holds min over k>=i of mean(jb..k)
    mins = pairs.select(
        "jb",
        F.col("kb").alias("b"),
        F.min("mean_jk").over(wmin).alias("mn"),
    )
    iso = mins.groupBy("b").agg(F.max("mn").alias("iso_raw"))
    return (
        bins.join(iso, "b")
        .select(
            F.col("b").alias("bin"),
            F.col("sw").alias("n_users"),
            F.col("sy").alias("n_pos"),
            F.round(
                F.col("sy").cast("double") / F.col("sw").cast("double"),
                6,
            ).alias("rate"),
            F.round(F.col("iso_raw"), 6).alias("iso_rate"),
        )
    )


ORACLE_ISOTONIC = f"""
iso_user AS (
  SELECT CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY user_id
),
iso_bins AS (
  SELECT CAST(least(x, {ISO_BINS - 1}) AS INT) AS b,
         CAST(count(*) AS BIGINT) AS sw,
         CAST(sum(y) AS BIGINT) AS sy
  FROM iso_user GROUP BY 1
),
iso_pre AS (
  SELECT b, sw, sy,
         CAST(sum(sw) OVER (ORDER BY b
              ROWS UNBOUNDED PRECEDING) - sw AS BIGINT) AS pj_sw,
         CAST(sum(sy) OVER (ORDER BY b
              ROWS UNBOUNDED PRECEDING) - sy AS BIGINT) AS pj_sy,
         CAST(sum(sw) OVER (ORDER BY b
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rk_sw,
         CAST(sum(sy) OVER (ORDER BY b
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rk_sy
  FROM iso_bins
),
iso_pairs AS (
  SELECT j.b AS jb, k.b AS kb,
         CAST(k.rk_sy - j.pj_sy AS DOUBLE)
           / CAST(k.rk_sw - j.pj_sw AS DOUBLE) AS mean_jk
  FROM iso_pre j JOIN iso_pre k ON j.b <= k.b
),
iso_mins AS (
  SELECT jb, kb AS b,
         min(mean_jk) OVER (PARTITION BY jb ORDER BY kb DESC
                            ROWS UNBOUNDED PRECEDING) AS mn
  FROM iso_pairs
),
iso_fit AS (
  SELECT b, max(mn) AS iso_raw FROM iso_mins GROUP BY 1
),
isotonic_calibration AS (
  SELECT i.b AS bin, i.sw AS n_users, i.sy AS n_pos,
         round(CAST(i.sy AS DOUBLE) / CAST(i.sw AS DOUBLE), 6) AS rate,
         round(f.iso_raw, 6) AS iso_rate
  FROM iso_bins i JOIN iso_fit f ON i.b = f.b
)
"""


# ---------------------------------------------------------------------------
# Platt scaling (parametric sibling of the isotonic calibrator)
# ---------------------------------------------------------------------------

#: Platt GD: rounds and a dyadic learning rate (exact in binary, so
#: the update arithmetic carries no literal-representation noise).
PLATT_ROUNDS = 8
PLATT_RATE = 2.0


def platt_calibration(events: DataFrame) -> DataFrame:
    """Platt scaling (Platt 1999): fit p = sigmoid(a*s + c) of
    conversion on the SAME engagement-score bins the isotonic
    calibrator uses — the parametric member of the calibration
    family (isotonic bends anywhere but can overfit sparse bins;
    Platt is 2 parameters and extrapolates). Deviation from Platt's
    paper: plain 0/1 targets instead of the (N+1)/(N+2) smoothed
    targets — documented, mirrored in the oracle.

    The corpus collapses to the <= ISO_BINS weighted bin rows FIRST
    (one user-grain pass + one hash-agg — identical shape to
    `isotonic_calibration`), then full-batch GD runs on that bounded
    table: per round one broadcast of the 1-row (a, c) weights, the
    weighted log-loss gradient over <= 32 rows, and a 9-dp-rounded
    update (the logreg_train convention, which makes cross-round
    state exactly equal in both engines; the sigmoid is rounded at
    12 dp on an exactly-representable input — s = b/32 is dyadic).

    Scale: GD cost is independent of corpus size (the bin table is
    constant-width); the only corpus-sized stages are the two
    aggregations. Output per bin: bin, n_users, n_pos, rate,
    platt_rate (round 6), a_hat, c_hat (the fitted params, repeated
    — round 6).
    """
    per_user = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("x"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("y"),
    )
    bins = _cut(
        per_user.select(
            F.least(F.col("x"), F.lit(ISO_BINS - 1))
            .cast("int")
            .alias("b"),
            "y",
        )
        .groupBy("b")
        .agg(F.count("*").alias("sw"), F.sum("y").alias("sy"))
    )  # <= 32 rows, reused per round
    s = F.col("b").cast("double") / F.lit(float(ISO_BINS))
    w = None  # 1-row (a, c)
    for _ in range(PLATT_ROUNDS):
        src_df = (
            bins.select(
                "*", F.lit(0.0).alias("a"), F.lit(0.0).alias("c")
            )
            if w is None
            else bins.crossJoin(F.broadcast(w))
        )
        m = F.col("a") * s + F.col("c")
        p = F.least(
            F.greatest(
                F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-m)), 12),
                F.lit(_P_FLOOR),
            ),
            F.lit(1.0 - _P_FLOOR),
        )
        scored = src_df.select("*", p.alias("p"))
        resid = F.col("sw") * F.col("p") - F.col("sy")
        w = scored.agg(
            F.round(
                F.first("a")
                - F.lit(PLATT_RATE)
                * F.sum(resid * s)
                / F.sum("sw"),
                9,
            ).alias("a"),
            F.round(
                F.first("c")
                - F.lit(PLATT_RATE) * F.sum(resid) / F.sum("sw"),
                9,
            ).alias("c"),
        )
    m_fin = F.col("a") * s + F.col("c")
    return bins.crossJoin(F.broadcast(w)).select(
        F.col("b").alias("bin"),
        F.col("sw").alias("n_users"),
        F.col("sy").alias("n_pos"),
        F.round(
            F.col("sy").cast("double") / F.col("sw").cast("double"), 6
        ).alias("rate"),
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-m_fin)), 6
        ).alias("platt_rate"),
        F.round(F.col("a"), 6).alias("a_hat"),
        F.round(F.col("c"), 6).alias("c_hat"),
    )


def oracle_platt() -> str:
    ctes = [
        """
pl_user AS (
  SELECT CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY user_id
)""",
        f"""
pl_bins AS MATERIALIZED (
  SELECT CAST(least(x, {ISO_BINS - 1}) AS INT) AS b,
         CAST(count(*) AS BIGINT) AS sw,
         CAST(sum(y) AS BIGINT) AS sy
  FROM pl_user GROUP BY 1
)""",
        """
pl_w0 AS (SELECT CAST(0.0 AS DOUBLE) AS a, CAST(0.0 AS DOUBLE) AS c)""",
    ]
    sx = f"(CAST(b AS DOUBLE) / {ISO_BINS})"
    p_expr = (
        "least(greatest(round(1.0 / (1.0 + exp(-(w.a * {sx}"
        " + w.c))), 12), {floor!r}), 1.0 - {floor!r})"
    ).format(sx=sx, floor=_P_FLOOR)
    for r in range(1, PLATT_ROUNDS + 1):
        ctes.append(
            f"""
pl_w{r} AS MATERIALIZED (
  SELECT round(w.a - {PLATT_RATE!r} * sum((sw * {p_expr} - sy)
               * {sx}) / sum(sw), 9) AS a,
         round(w.c - {PLATT_RATE!r} * sum(sw * {p_expr} - sy)
               / sum(sw), 9) AS c
  FROM pl_bins, pl_w{r - 1} w
  GROUP BY w.a, w.c
)"""
        )
    ctes.append(
        f"""
platt_calibration AS (
  SELECT b AS bin, sw AS n_users, sy AS n_pos,
         round(CAST(sy AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS rate,
         round(1.0 / (1.0 + exp(-(w.a * {sx} + w.c))), 6)
           AS platt_rate,
         round(w.a, 6) AS a_hat,
         round(w.c, 6) AS c_hat
  FROM pl_bins, pl_w{PLATT_ROUNDS} w
)"""
    )
    return ",".join(ctes)
