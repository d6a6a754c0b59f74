"""[EXT] Verified decision-tree induction: a depth-2 CART classifier
trained entirely inside the engine, hash-verified cross-engine.

The MLlib models (`ml/models.py`, reference F.py:194-293 parity) are
rows-only — their training is engine-internal. This module shows the
alternative the verified-classifier family (textstats.nb_quality_*)
established: when training itself is expressed as aggregation algebra,
the MODEL and its decision path become oracle-checkable artifacts.

Task: predict whether a user is a frequent purchaser (>= TREE_LABEL_MIN
purchase events — the roughly-balanced median split of the fixture)
from leakage-free behavioral features (click/view counts, scaled click
spend). Method: histogram-based greedy CART (the split-finding scheme
LightGBM/XGBoost ``hist`` mode uses at scale):

- features quantized to TREE_BINS equi-width integer bins from global
  min/max — integer arithmetic, deterministic in any engine;
- per (node, feature, bin) histograms of (n, pos) — ONE hash-agg per
  depth level over the melted feature table (map-side combined to
  features x bins rows per partition);
- the weighted-Gini split score is derived from integral counts with
  identical operation order in both engines and rounded before the
  argmin, so the chosen split is engine-exact; ties break on
  (score, fid, bin);
- depth fixed at 2, fully unrolled: the whole tree is ONE logical plan
  (argmin = orderBy-limit-1 joined back in; no driver-side decisions,
  no collect), the same plan-only composition rule as PageRank.

Scale: the corpus-sized work is one feature-build agg + one histogram
agg per level; histograms are features*bins rows regardless of corpus
size — the reason hist-based boosters win at scale — and every later
stage operates on those tiny tables. Deeper trees repeat the level
pattern; the depth-2 unroll here is the verification-friendly core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._staging import cut as _cut
from ._staging import stage as _stage

TREE_BINS = 16
TREE_LABEL_MIN = 14
_VAL_SCALE = 100


def _user_features(events: DataFrame) -> DataFrame:
    """Per-user label + leakage-free behavioral features (BIGINT)."""
    return events.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= TREE_LABEL_MIN,
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("label"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("f0"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("f1"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "click",
                    F.expr(f"CAST(floor(value * {_VAL_SCALE}) AS BIGINT)"),
                )
            ),
            F.lit(0),
        ).alias("f2"),
    )


def _binned_from_feats(feats: DataFrame) -> DataFrame:
    """(user_id, label, fid, bin): melted features mapped to equi-width
    integer bins from the global per-feature min/max."""
    melt = feats.select(
        "user_id",
        "label",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("fid"), F.col(f"f{i}").alias("val")
                    )
                    for i in range(3)
                ]
            )
        ).alias("fv"),
    ).select("user_id", "label", "fv.fid", "fv.val")
    ranges = melt.groupBy("fid").agg(
        F.min("val").alias("lo"), F.max("val").alias("hi")
    )
    return melt.join(F.broadcast(ranges), "fid").select(
        "user_id",
        "label",
        "fid",
        F.expr(f"CAST((val - lo) * {TREE_BINS} DIV (hi - lo + 1) AS INT)")
        .alias("bin"),
    )


def _staged_feats_binned(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Staged (user_features, binned) pair: Catalyst does not dedupe
    common subplans, and the tree trainers reference these user-grain
    tables up to ~12 times (4 trees x hist/leaf/OOB) — one
    localCheckpoint each turns 12 corpus aggs into 1."""

    def build() -> tuple[DataFrame, DataFrame]:
        feats = _cut(_user_features(events))
        return feats, _cut(_binned_from_feats(feats))

    return _stage("tree_feats_binned", events, build, checkpoint=False)


def _best_split(subset: DataFrame) -> DataFrame:
    """1-row DataFrame (fid, bin, score): the argmin weighted-Gini
    split over the node's histogram. All candidate scoring happens on
    the features*bins histogram — constant-size regardless of node
    rows."""
    hist = subset.groupBy("fid", "bin").agg(
        F.count("*").alias("n"), F.sum("label").alias("pos")
    )
    return _argmin_split_from_hist(hist)


def _argmin_split_from_hist(hist: DataFrame) -> DataFrame:
    """Shared argmin-Gini scoring over a (fid, bin, n, pos) histogram
    — used by the unweighted CART splits and the random forest's
    bootstrap-weighted stumps (same algebra, weighted counts)."""
    wcum = (
        Window.partitionBy("fid")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("fid")
    cum = hist.select(
        "fid",
        "bin",
        F.sum("n").over(wcum).alias("nl"),
        F.sum("pos").over(wcum).alias("pl"),
        F.sum("n").over(wtot).alias("nt"),
        F.sum("pos").over(wtot).alias("pt"),
    )
    nl, pl = F.col("nl"), F.col("pl")
    nr = F.col("nt") - nl
    pr = F.col("pt") - pl
    negl = nl - pl
    negr = nr - pr
    score = F.round(
        (nl * nl - pl * pl - negl * negl) / nl
        + (nr * nr - pr * pr - negr * negr) / nr,
        9,
    )
    return (
        cum.filter((nl > 0) & (nr > 0))
        .select("fid", "bin", score.alias("score"))
        .orderBy("score", "fid", "bin")
        .limit(1)
    )


def cart_train_staged(events: DataFrame) -> DataFrame:
    """Staged CART model table (r8): shared by `ml_cart_verified` and
    `cart_feature_importance`, which otherwise re-runs the full
    depth-2 split search to read 7 rows."""
    return _stage("cart_model", events, lambda: cart_train(events))


def cart_train(events: DataFrame) -> DataFrame:
    """Train the depth-2 tree and emit it as a table: three split rows
    (node '', 'L', 'R': chosen fid/bin/score + node counts) and four
    leaf rows ('LL'..'RR': counts + positive rate round(6)). Output:
    node, kind, fid, bin, n, pos, metric.
    """
    feats, data = _staged_feats_binned(events)
    root = _best_split(data)
    side1 = (
        data.join(
            F.broadcast(root.select(F.col("fid").alias("sfid"),
                                    F.col("bin").alias("sbin"))),
        )
        .filter(F.col("fid") == F.col("sfid"))
        .select(
            "user_id",
            F.when(F.col("bin") <= F.col("sbin"), "L")
            .otherwise("R")
            .alias("side1"),
        )
    )
    data1 = data.join(side1, "user_id")
    splits = {
        s: _best_split(data1.filter(F.col("side1") == s).drop("side1"))
        for s in ("L", "R")
    }
    stats = {}
    node_rows = []
    for s in ("L", "R"):
        sp = splits[s]
        side2 = (
            data1.filter(F.col("side1") == s)
            .join(
                F.broadcast(sp.select(F.col("fid").alias("sfid"),
                                      F.col("bin").alias("sbin"))),
            )
            .filter(F.col("fid") == F.col("sfid"))
            .select(
                "user_id",
                F.concat(
                    F.lit(s),
                    F.when(F.col("bin") <= F.col("sbin"), "L").otherwise(
                        "R"
                    ),
                ).alias("path"),
            )
        )
        stats[s] = side2
    paths = stats["L"].unionByName(stats["R"])
    labels = feats.select("user_id", "label")
    leaves = (
        labels.join(paths, "user_id")
        .groupBy("path")
        .agg(F.count("*").alias("n"), F.sum("label").alias("pos"))
        .select(
            F.col("path").alias("node"),
            F.lit("leaf").alias("kind"),
            F.lit(None).cast("int").alias("fid"),
            F.lit(None).cast("int").alias("bin"),
            "n",
            "pos",
            F.round(F.col("pos") / F.col("n"), 6).alias("metric"),
        )
    )
    # split rows: node totals from the per-side label table
    sided = labels.join(
        paths.select(
            "user_id", F.substring("path", 1, 1).alias("side1")
        ),
        "user_id",
    )
    tot_root = labels.agg(
        F.count("*").alias("n"), F.sum("label").alias("pos")
    )
    split_rows = (
        root.crossJoin(tot_root)
        .select(
            F.lit("").alias("node"),
            F.lit("split").alias("kind"),
            F.col("fid").cast("int"),
            F.col("bin").cast("int"),
            "n",
            "pos",
            F.col("score").alias("metric"),
        )
    )
    for s in ("L", "R"):
        tot = sided.filter(F.col("side1") == s).agg(
            F.count("*").alias("n"), F.sum("label").alias("pos")
        )
        split_rows = split_rows.unionByName(
            splits[s]
            .crossJoin(tot)
            .select(
                F.lit(s).alias("node"),
                F.lit("split").alias("kind"),
                F.col("fid").cast("int"),
                F.col("bin").cast("int"),
                "n",
                "pos",
                F.col("score").alias("metric"),
            )
        )
    return split_rows.unionByName(leaves)


def _sql_best_split(src: str, name: str) -> str:
    """CTE pair computing the argmin split over ``src`` (same algebra
    as ``_best_split``)."""
    return f"""
{name}_cum AS (
  SELECT fid, bin,
         sum(n) OVER (PARTITION BY fid ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS nl,
         sum(pos) OVER (PARTITION BY fid ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS pl,
         sum(n) OVER (PARTITION BY fid) AS nt,
         sum(pos) OVER (PARTITION BY fid) AS pt
  FROM (SELECT fid, bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(label) AS BIGINT) AS pos
        FROM {src} GROUP BY 1, 2)
),
{name} AS (
  SELECT fid, bin,
         round((nl * nl - pl * pl - (nl - pl) * (nl - pl)) / nl
               + ((nt - nl) * (nt - nl) - (pt - pl) * (pt - pl)
                  - ((nt - nl) - (pt - pl)) * ((nt - nl) - (pt - pl)))
                 / (nt - nl), 9) AS score
  FROM {name}_cum
  WHERE nl > 0 AND nt - nl > 0
  ORDER BY score, fid, bin LIMIT 1
)"""


#: shared feature-build + binning prefix (CART and the random forest
#: train on the same binned table).
_SQL_DT_BINNED = f"""
dt_feats AS (
  SELECT user_id,
         CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) >= {TREE_LABEL_MIN}
              THEN 1 ELSE 0 END AS BIGINT) AS label,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS f0,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS f1,
         CAST(COALESCE(sum(CASE WHEN event_type = 'click'
              THEN CAST(floor(value * {_VAL_SCALE}) AS BIGINT) END), 0)
              AS BIGINT) AS f2
  FROM events GROUP BY 1
),
dt_melt AS (
  SELECT user_id, label, 0 AS fid, f0 AS val FROM dt_feats
  UNION ALL
  SELECT user_id, label, 1, f1 FROM dt_feats
  UNION ALL
  SELECT user_id, label, 2, f2 FROM dt_feats
),
dt_ranges AS (
  SELECT fid, min(val) AS lo, max(val) AS hi FROM dt_melt GROUP BY 1
),
dt_binned AS (
  SELECT user_id, label, fid,
         CAST((val - lo) * {TREE_BINS} // (hi - lo + 1) AS INT) AS bin
  FROM dt_melt JOIN dt_ranges USING (fid)
)"""

ORACLE_CART = f"""{_SQL_DT_BINNED},
{_sql_best_split("dt_binned", "dt_root")},
dt_side1 AS (
  SELECT b.user_id,
         CASE WHEN b.bin <= r.bin THEN 'L' ELSE 'R' END AS side1
  FROM dt_binned b, dt_root r
  WHERE b.fid = r.fid
),
dt_binned1 AS (
  SELECT b.*, s.side1 FROM dt_binned b JOIN dt_side1 s USING (user_id)
),
{_sql_best_split(
    "(SELECT * FROM dt_binned1 WHERE side1 = 'L')", "dt_sl")},
{_sql_best_split(
    "(SELECT * FROM dt_binned1 WHERE side1 = 'R')", "dt_sr")},
dt_paths AS (
  SELECT b.user_id,
         b.side1 || CASE WHEN b.bin <= s.bin THEN 'L' ELSE 'R' END
           AS path
  FROM dt_binned1 b
  JOIN (SELECT 'L' AS side1, fid, bin FROM dt_sl
        UNION ALL SELECT 'R', fid, bin FROM dt_sr) s
    ON s.side1 = b.side1 AND s.fid = b.fid
),
dt_labels AS (SELECT user_id, label FROM dt_feats),
dt_leaves AS (
  SELECT p.path AS node, 'leaf' AS kind,
         CAST(NULL AS INT) AS fid, CAST(NULL AS INT) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(l.label) AS BIGINT) AS pos,
         round(sum(l.label) / count(*), 6) AS metric
  FROM dt_labels l JOIN dt_paths p USING (user_id)
  GROUP BY 1
),
dt_split_rows AS (
  SELECT '' AS node, 'split' AS kind, CAST(r.fid AS INT) AS fid,
         CAST(r.bin AS INT) AS bin, t.n, t.pos, r.score AS metric
  FROM dt_root r, (SELECT CAST(count(*) AS BIGINT) AS n,
                          CAST(sum(label) AS BIGINT) AS pos
                   FROM dt_labels) t
  UNION ALL
  SELECT 'L', 'split', CAST(s.fid AS INT), CAST(s.bin AS INT),
         t.n, t.pos, s.score
  FROM dt_sl s, (SELECT CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(l.label) AS BIGINT) AS pos
                 FROM dt_labels l JOIN dt_side1 x USING (user_id)
                 WHERE x.side1 = 'L') t
  UNION ALL
  SELECT 'R', 'split', CAST(s.fid AS INT), CAST(s.bin AS INT),
         t.n, t.pos, s.score
  FROM dt_sr s, (SELECT CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(l.label) AS BIGINT) AS pos
                 FROM dt_labels l JOIN dt_side1 x USING (user_id)
                 WHERE x.side1 = 'R') t
),
cart_train AS (
  SELECT * FROM dt_split_rows UNION ALL SELECT * FROM dt_leaves
)
"""


# ---------------------------------------------------------------------------
# verified gradient boosting (depth-1 regression stumps on residuals)
# ---------------------------------------------------------------------------

GB_ROUNDS = 3
GB_SCALE = 1000


def _gb_binned(events: DataFrame):
    """(user_id, y, fid, bin) for the regression task: y = scaled
    per-user purchase count; features/bins shared with the CART
    builder."""
    feats = events.groupBy("user_id").agg(
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            * GB_SCALE
        ).alias("y"),
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("f0"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("f1"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "click",
                    F.expr(f"CAST(floor(value * {_VAL_SCALE}) AS BIGINT)"),
                )
            ),
            F.lit(0),
        ).alias("f2"),
    )
    melt = feats.select(
        "user_id",
        "y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("fid"), F.col(f"f{i}").alias("val")
                    )
                    for i in range(3)
                ]
            )
        ).alias("fv"),
    ).select("user_id", "y", "fv.fid", "fv.val")
    ranges = melt.groupBy("fid").agg(
        F.min("val").alias("lo"), F.max("val").alias("hi")
    )
    return melt.join(F.broadcast(ranges), "fid").select(
        "user_id",
        "y",
        "fid",
        F.expr(f"CAST((val - lo) * {TREE_BINS} DIV (hi - lo + 1) AS INT)")
        .alias("bin"),
    )


#: r8 (verdict task 2): the GBM family's shared session state. Both
#: `ml_gbm_verified` (returns the stump table) and
#: `ml_gbm_perm_importance` (re-applies the FIXED stumps per probe)
#: need the same trained ensemble; before staging, the importance
#: query re-ran the full driver-coordinated boosting loop — the exact
#: blind spot the betweenness/dbscan pattern closes. The melted
#: (user, y, fid, bin) table and the converged 3-row stump table are
#: each staged once per input.
def _gb_binned_staged(events: DataFrame) -> DataFrame:
    return _stage("gb_binned", events, lambda: _gb_binned(events))


def gbm_train_staged(
    events: DataFrame, rounds: int = GB_ROUNDS
) -> DataFrame:
    """Verified gradient boosting, staged per events input: depth-1
    stumps on integer-scaled residuals; per-round split/leaves/SSE
    hash-verified."""
    return _stage(
        "gbm_model", events, lambda: gbm_train(events, rounds), rounds
    )


def gbm_train(events: DataFrame, rounds: int = GB_ROUNDS) -> DataFrame:
    """Verified gradient boosting: ``rounds`` depth-1 regression
    stumps fit to the running residual of the scaled purchase count —
    squared-loss boosting, where the gradient IS the residual, so
    each round is exactly the histogram split search of `cart_train`
    with variance-reduction scoring (maximize SL^2/nL + SR^2/nR) and
    floor-mean leaf values. Integer-scaled residuals stay integral
    through every update (leaf subtraction of a floor-mean), so the
    whole ensemble — splits, leaf values, and the per-round SSE — is
    engine-exact and hash-verified; the monotone-decreasing ``sse``
    column is the training curve.

    Floor convention: leaf means use floor(S/n) via double division
    (NOT integer DIV — Spark's DIV truncates toward zero while
    DuckDB's // floors, and residual sums go negative). Scale: per
    round ONE histogram agg over the melted table plus a user-grain
    residual update join; all split scoring is on features*bins rows
    (the `cart_train` argument); plan-only composition with the
    residual table localCheckpointed per round. Output per round:
    round, fid, bin, vl, vr, sse.
    """
    binned = _gb_binned_staged(events)
    resid = binned.select("user_id", "y").distinct().select(
        "user_id", F.col("y").alias("r")
    )
    f0 = resid.agg(
        F.expr("CAST(floor(sum(r) / count(*)) AS BIGINT)").alias("f0v")
    )
    resid = _cut(
        resid.crossJoin(F.broadcast(f0))
        .select("user_id", (F.col("r") - F.col("f0v")).alias("r"))
    )
    wcum = (
        Window.partitionBy("fid")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("fid")
    out = None
    for rnd in range(1, rounds + 1):
        joined = binned.select("user_id", "fid", "bin").join(
            resid, "user_id"
        )
        cum = (
            joined.groupBy("fid", "bin")
            .agg(F.count("*").alias("n"), F.sum("r").alias("s"))
            .select(
                "fid",
                "bin",
                F.sum("n").over(wcum).alias("nl"),
                F.sum("s").over(wcum).alias("sl"),
                F.sum("n").over(wtot).alias("nt"),
                F.sum("s").over(wtot).alias("st"),
            )
        )
        nl, sl = F.col("nl"), F.col("sl")
        nr = F.col("nt") - nl
        sr = F.col("st") - sl
        best = (
            cum.filter((nl > 0) & (nr > 0))
            .select(
                "fid",
                "bin",
                F.round(
                    (sl * sl) / nl + (sr * sr) / nr, 6
                ).alias("score"),
                F.expr("CAST(floor(sl / nl) AS BIGINT)").alias("vl"),
                F.expr(
                    "CAST(floor((st - sl) / (nt - nl)) AS BIGINT)"
                ).alias("vr"),
            )
            .orderBy(F.col("score").desc(), "fid", "bin")
            .limit(1)
        )
        userbin = (
            binned.select("user_id", "fid", "bin")
            .join(
                F.broadcast(
                    best.select(
                        F.col("fid").alias("bfid"),
                        F.col("bin").alias("bbin"),
                        "vl",
                        "vr",
                    )
                )
            )
            .filter(F.col("fid") == F.col("bfid"))
            .select(
                "user_id",
                F.when(F.col("bin") <= F.col("bbin"), F.col("vl"))
                .otherwise(F.col("vr"))
                .alias("step"),
            )
        )
        resid = _cut(
            resid.join(userbin, "user_id")
            .select("user_id", (F.col("r") - F.col("step")).alias("r"))
        )
        sse = resid.agg(
            F.sum(F.col("r") * F.col("r")).alias("sse")
        )
        row = best.crossJoin(F.broadcast(sse)).select(
            F.lit(rnd).alias("round"),
            F.col("fid").cast("int"),
            F.col("bin").cast("int"),
            "vl",
            "vr",
            F.col("sse").cast("long").alias("sse"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _sql_gb_round(prev_resid: str, rnd: int) -> str:
    return f"""
gb_c{rnd} AS (
  SELECT fid, bin,
         sum(n) OVER (PARTITION BY fid ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS nl,
         sum(s) OVER (PARTITION BY fid ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS sl,
         sum(n) OVER (PARTITION BY fid) AS nt,
         sum(s) OVER (PARTITION BY fid) AS st
  FROM (SELECT b.fid, b.bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(r.r) AS BIGINT) AS s
        FROM gb_binned b JOIN {prev_resid} r USING (user_id)
        GROUP BY 1, 2)
),
gb_b{rnd} AS (
  SELECT fid, bin,
         round((sl * sl) / nl + ((st - sl) * (st - sl)) / (nt - nl), 6)
           AS score,
         CAST(floor(sl / nl) AS BIGINT) AS vl,
         CAST(floor((st - sl) / (nt - nl)) AS BIGINT) AS vr
  FROM gb_c{rnd}
  WHERE nl > 0 AND nt - nl > 0
  ORDER BY score DESC, fid, bin LIMIT 1
),
gb_r{rnd} AS (
  SELECT r.user_id,
         CAST(r.r - CASE WHEN b.bin <= s.bin THEN s.vl ELSE s.vr END
              AS BIGINT) AS r
  FROM {prev_resid} r
  JOIN gb_binned b ON b.user_id = r.user_id
  CROSS JOIN gb_b{rnd} s
  WHERE b.fid = s.fid
)"""


ORACLE_GBM = (
    f"""
gb_feats AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              * {GB_SCALE} AS BIGINT) AS y,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS f0,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS f1,
         CAST(COALESCE(sum(CASE WHEN event_type = 'click'
              THEN CAST(floor(value * {_VAL_SCALE}) AS BIGINT) END), 0)
              AS BIGINT) AS f2
  FROM events GROUP BY 1
),
gb_melt AS (
  SELECT user_id, y, 0 AS fid, f0 AS val FROM gb_feats
  UNION ALL SELECT user_id, y, 1, f1 FROM gb_feats
  UNION ALL SELECT user_id, y, 2, f2 FROM gb_feats
),
gb_ranges AS (
  SELECT fid, min(val) AS lo, max(val) AS hi FROM gb_melt GROUP BY 1
),
gb_binned AS MATERIALIZED (
  SELECT user_id, y, fid,
         CAST((val - lo) * {TREE_BINS} // (hi - lo + 1) AS INT) AS bin
  FROM gb_melt JOIN gb_ranges USING (fid)
),
gb_f0 AS (
  SELECT CAST(floor(sum(y) / count(*)) AS BIGINT) AS f0v
  FROM (SELECT DISTINCT user_id, y FROM gb_binned)
),
gb_r0 AS (
  SELECT user_id, CAST(y - f0v AS BIGINT) AS r
  FROM (SELECT DISTINCT user_id, y FROM gb_binned), gb_f0
)"""
    + "".join(
        "," + _sql_gb_round(f"gb_r{i - 1}", i)
        for i in range(1, GB_ROUNDS + 1)
    )
    + ",\n"
    + "gbm_train AS (\n  "
    + "\n  UNION ALL\n  ".join(
        f"""SELECT {i} AS round, CAST(b.fid AS INT) AS fid,
         CAST(b.bin AS INT) AS bin, b.vl, b.vr,
         (SELECT CAST(sum(r * r) AS BIGINT) FROM gb_r{i}) AS sse
  FROM gb_b{i} b"""
        for i in range(1, GB_ROUNDS + 1)
    )
    + "\n)"
)


def cart_feature_importance(events: DataFrame) -> DataFrame:
    """Split-gain feature importance for the verified CART — the
    standard tree importance (sum over splits of impurity decrease,
    normalized): gain(split) = parent Gini mass (n - (pos^2+neg^2)/n,
    derivable from the split row's own n/pos) minus the stored
    post-split weighted impurity (`metric`). Pure composition over the
    7-row model table — explainability as a query, itself
    hash-verified. Output: fid, total_gain, importance (round 6).
    """
    tree = cart_train_staged(events)
    splits = tree.filter(F.col("kind") == "split")
    neg = F.col("n") - F.col("pos")
    parent = (
        F.col("n").cast("double")
        - (F.col("pos") * F.col("pos") + neg * neg) / F.col("n")
    )
    gains = splits.select(
        "fid", (parent - F.col("metric")).alias("gain")
    )
    total = gains.groupBy("fid").agg(F.sum("gain").alias("total_gain"))
    denom = total.agg(F.sum("total_gain").alias("g"))
    return total.crossJoin(F.broadcast(denom)).select(
        "fid",
        F.round("total_gain", 6).alias("total_gain"),
        F.round(F.col("total_gain") / F.col("g"), 6).alias("importance"),
    )


ORACLE_CART_IMPORTANCE = """
cfi_splits AS (
  SELECT fid, n, pos, metric FROM cart_train WHERE kind = 'split'
),
cfi_gain AS (
  SELECT fid,
         (CAST(n AS DOUBLE)
          - (pos * pos + (n - pos) * (n - pos)) / n) - metric AS gain
  FROM cfi_splits
),
cfi_tot AS (
  SELECT fid, sum(gain) AS total_gain FROM cfi_gain GROUP BY 1
),
cart_feature_importance AS (
  SELECT fid, round(total_gain, 6) AS total_gain,
         round(total_gain / (SELECT sum(total_gain) FROM cfi_tot), 6)
           AS importance
  FROM cfi_tot
)
"""


def gbm_permutation_importance(events: DataFrame) -> DataFrame:
    """Model-agnostic permutation importance for the verified GBM:
    break one feature's association by permuting its column among
    users (a deterministic md5-rank ROTATION — every user takes the
    next-ranked user's bin, the last wraps to the first; a genuine
    derangement both engines replay), re-apply the FIXED trained
    stumps, and report the SSE increase — the Breiman importance
    measure, usually estimated with RNG shuffles, here exact.

    The stump table comes from `gbm_train` (3 rows); applying the
    ensemble is one broadcast join + per-user sum, so each feature's
    probe costs one pass over the user-grain table. The rotation map
    (user -> next md5-ranked user, last wraps to first) is built ONCE
    on the distributed-rank kernel — rank r takes rank r%n+1's bin
    via a self-equi-join, replacing the former user-grain
    lead/first window (single-partition at scale) — and every user
    carries all 3 fids by construction (`_gb_binned` explodes a
    3-element array), so one map serves all three probes. Output:
    fid, sse_base, sse_perm, delta_sse.
    """
    from big_data_instacart_market_basket_analysis_spark.operators import (
        ranking as _rank,
    )
    binned = _gb_binned_staged(events)
    users_y = binned.select("user_id", "y").distinct()
    f0 = users_y.agg(
        F.expr("CAST(floor(sum(y) / count(*)) AS BIGINT)").alias("f0v")
    )
    stumps = gbm_train_staged(events).select("fid", "bin", "vl", "vr")

    def _sse(bins_df: DataFrame) -> DataFrame:
        adj = (
            bins_df.join(
                F.broadcast(
                    stumps.select(
                        F.col("fid"),
                        F.col("bin").alias("sbin"),
                        "vl",
                        "vr",
                    )
                ),
                "fid",
            )
            .select(
                "user_id",
                F.when(
                    F.col("bin") <= F.col("sbin"), F.col("vl")
                )
                .otherwise(F.col("vr"))
                .alias("step"),
            )
            .groupBy("user_id")
            .agg(F.sum("step").alias("adj"))
        )
        r = F.col("y") - F.col("f0v") - F.col("adj")
        return (
            users_y.join(adj, "user_id")
            .crossJoin(F.broadcast(f0))
            .agg(F.sum(r * r).cast("long").alias("sse"))
        )

    base = _sse(binned.select("user_id", "fid", "bin"))
    ranked = _rank.global_ranked(
        users_y.select("user_id").withColumn(
            "h", F.md5(F.col("user_id").cast("string"))
        ),
        [F.col("h"), F.col("user_id")],
    )
    rotation = _cut(
        ranked.select(
            "user_id",
            (F.col("_rk") % F.col("_n_total") + 1).alias("_dk"),
        )
        .join(
            ranked.select(
                F.col("_rk").alias("_dk"),
                F.col("user_id").alias("donor_id"),
            ),
            "_dk",
        )
        .select("user_id", "donor_id")
    )
    out = None
    for f in range(3):
        bf = binned.filter(F.col("fid") == f).select(
            F.col("user_id").alias("donor_id"), "bin"
        )
        perm = rotation.join(bf, "donor_id").select(
            "user_id", F.lit(f).alias("fid"), "bin"
        )
        permuted = binned.filter(F.col("fid") != f).select(
            "user_id", "fid", "bin"
        ).unionByName(perm)
        row = (
            base.select(F.col("sse").alias("sse_base"))
            .crossJoin(_sse(permuted).select(F.col("sse").alias("sse_perm")))
            .select(
                F.lit(f).alias("fid"),
                "sse_base",
                "sse_perm",
                (F.col("sse_perm") - F.col("sse_base")).alias(
                    "delta_sse"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _sql_gpi_sse(src: str, name: str) -> str:
    return f"""
{name}_adj AS (
  SELECT b.user_id,
         CAST(sum(CASE WHEN b.bin <= s.bin THEN s.vl ELSE s.vr END)
              AS BIGINT) AS adj
  FROM {src} b JOIN gpi_stumps s ON s.fid = b.fid
  GROUP BY 1
),
{name} AS (
  SELECT CAST(sum((y.y - f.f0v - a.adj) * (y.y - f.f0v - a.adj))
              AS BIGINT) AS sse
  FROM gpi_y y JOIN {name}_adj a USING (user_id), gb_f0 f
)"""


def oracle_gbm_permutation() -> str:
    parts = [
        """
gpi_stumps AS (
  SELECT fid, bin, vl, vr FROM gb_b1
  UNION ALL SELECT fid, bin, vl, vr FROM gb_b2
  UNION ALL SELECT fid, bin, vl, vr FROM gb_b3
),
gpi_y AS (SELECT DISTINCT user_id, y FROM gb_binned)""",
        _sql_gpi_sse(
            "(SELECT user_id, fid, bin FROM gb_binned)", "gpi_sse0"
        ),
    ]
    for f in range(3):
        parts.append(
            f"""
gpi_pf{f} AS (
  SELECT user_id, {f} AS fid,
         COALESCE(lead(bin) OVER w, first_value(bin) OVER wf) AS bin
  FROM (SELECT user_id, bin FROM gb_binned WHERE fid = {f})
  WINDOW w AS (ORDER BY md5(CAST(user_id AS VARCHAR)), user_id),
         wf AS (ORDER BY md5(CAST(user_id AS VARCHAR)), user_id
                ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING)
)"""
            + ","
            + _sql_gpi_sse(
                f"(SELECT user_id, fid, bin FROM gb_binned"
                f" WHERE fid <> {f}"
                f" UNION ALL SELECT * FROM gpi_pf{f})",
                f"gpi_sse{f + 1}",
            ).lstrip(",")
        )
    finals = "\n  UNION ALL\n  ".join(
        f"""SELECT {f} AS fid, b.sse AS sse_base, p.sse AS sse_perm,
         p.sse - b.sse AS delta_sse
  FROM gpi_sse0 b, gpi_sse{f + 1} p"""
        for f in range(3)
    )
    return ",".join(parts) + f""",
gbm_permutation_importance AS (
  {finals}
)"""


# ---------------------------------------------------------------------------
# verified random forest (Poisson-bootstrap stumps + OOB majority vote)
# ---------------------------------------------------------------------------

RF_TREES = 4
#: deterministic Poisson(1) bootstrap approximation: md5 bucket in
#: [0,100) -> weight 0 (<37), 1 (<74), 2 (else) — P(0)=.37, P(1)=.37,
#: P(2)=.26 vs Poisson(1)'s .368/.368/.264. Weights RIDE ALONG as a
#: column (the scale-correct bootstrap: no row resampling shuffle).
RF_W0, RF_W1 = 37, 74


def rf_train(events: DataFrame, n_trees: int = RF_TREES) -> DataFrame:
    """Verified random forest: ``n_trees`` depth-1 stumps, each on a
    deterministic Poisson bootstrap (md5 weights — the resampling
    shape a 100 TB trainer actually uses: weights are a map column,
    never a data copy) with per-tree feature subsampling (tree t
    drops feature t mod 3), plus the forest's signature metric — OOB
    accuracy: every user votes only on trees whose bootstrap EXCLUDED
    them (weight 0, ~37% of users per tree), majority vote scored
    against the label. Leaf votes and the majority test are pure
    integer comparisons (2*pos >= n), so the whole ensemble replays
    bit-exact in the oracle.

    Output rows: per tree a split row ('t{t}', fid/bin/score + the
    bootstrap-weighted node totals) and two leaf rows ('t{t}L/R',
    weighted counts + positive rate); one 'oob' row (users scored,
    correct votes, accuracy). Scale: per tree ONE weighted histogram
    agg (features x bins rows) + leaf/vote aggs on user grain; trees
    are independent branches of one logical plan.

    Depth composes exactly like ``cart_train``'s level pattern; the
    stump forest is the verification-friendly core (MLlib's RF with
    reference hyperparams remains in ml/models.py, rows-only —
    F.py:194-236 parity)."""
    feats, data = _staged_feats_binned(events)
    labels = feats.select("user_id", "label")
    # r9 optimization (guide §1.2): the per-tree Python loop built
    # ~25 DataFrame transformations per tree (each re-analyzing a
    # growing plan — ~8,000 py4j round-trips, ~2.4 s of construction)
    # and evaluated every tree's histogram subtree three times. The
    # trees now ride an exploded `tree` column through ONE plan: one
    # bootstrap join, ONE (tree, fid, bin) histogram agg, tree-keyed
    # windows for the argmin, tree-keyed joins for leaves/OOB. Weight
    # strings, tie-breaks, and every integer/rounding expression are
    # identical per tree, so the output rows are bit-equal (the
    # unrolled per-tree oracle is unchanged).
    hcol = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("rf:"),
                        F.col("tree").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    wt = _cut(
        labels.select(
            "user_id",
            "label",
            F.explode(
                F.array(*[F.lit(t) for t in range(n_trees)])
            ).alias("tree"),
        )
        .withColumn(
            "w",
            (
                F.when(hcol < RF_W0, 0)
                .when(hcol < RF_W1, 1)
                .otherwise(2)
            ).cast("bigint"),
        )
    )
    boot = data.join(
        wt.filter(F.col("w") > 0).select("user_id", "tree", "w"),
        "user_id",
    ).filter(F.col("fid") != F.col("tree") % 3)
    hist = boot.groupBy("tree", "fid", "bin").agg(
        F.sum("w").alias("n"),
        F.sum(F.col("w") * F.col("label")).alias("pos"),
    )
    # argmin-Gini per tree: _argmin_split_from_hist's algebra with
    # `tree` prepended to every window key (row_number rank-1 ==
    # orderBy(score, fid, bin).limit(1) within each tree).
    wcum = (
        Window.partitionBy("tree", "fid")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("tree", "fid")
    cum = hist.select(
        "tree",
        "fid",
        "bin",
        F.sum("n").over(wcum).alias("nl"),
        F.sum("pos").over(wcum).alias("pl"),
        F.sum("n").over(wtot).alias("nt"),
        F.sum("pos").over(wtot).alias("pt"),
    )
    nl, pl = F.col("nl"), F.col("pl")
    nr = F.col("nt") - nl
    pr = F.col("pt") - pl
    negl = nl - pl
    negr = nr - pr
    score = F.round(
        (nl * nl - pl * pl - negl * negl) / nl
        + (nr * nr - pr * pr - negr * negr) / nr,
        9,
    )
    wsel = Window.partitionBy("tree").orderBy("score", "fid", "bin")
    split = _cut(
        cum.filter((nl > 0) & (nr > 0))
        .select("tree", "fid", "bin", score.alias("score"))
        .withColumn("rk", F.row_number().over(wsel))
        .filter(F.col("rk") == 1)
        .select("tree", "fid", "bin", "score")
    )
    tot = wt.filter(F.col("w") > 0).groupBy("tree").agg(
        F.sum("w").alias("n"),
        F.sum(F.col("w") * F.col("label")).alias("pos"),
    )
    split_row = split.join(tot, "tree").select(
        F.concat(F.lit("t"), F.col("tree").cast("string")).alias(
            "node"
        ),
        F.lit("split").alias("kind"),
        F.col("tree").cast("int").alias("tree"),
        F.col("fid").cast("int"),
        F.col("bin").cast("int"),
        "n",
        "pos",
        F.col("score").alias("metric"),
    )
    skey = F.broadcast(
        split.select(
            "tree",
            F.col("fid").alias("sfid"),
            F.col("bin").alias("sbin"),
        )
    )
    sides = (
        boot.join(skey, "tree")
        .filter(F.col("fid") == F.col("sfid"))
        .select(
            "tree",
            "user_id",
            "label",
            "w",
            F.when(F.col("bin") <= F.col("sbin"), "L")
            .otherwise("R")
            .alias("side"),
        )
    )
    leaves = _cut(
        sides.groupBy("tree", "side")
        .agg(
            F.sum("w").alias("n"),
            F.sum(F.col("w") * F.col("label")).alias("pos"),
        )
    )
    leaf_rows = leaves.select(
        F.concat(
            F.lit("t"), F.col("tree").cast("string"), F.col("side")
        ).alias("node"),
        F.lit("leaf").alias("kind"),
        F.col("tree").cast("int").alias("tree"),
        F.lit(None).cast("int").alias("fid"),
        F.lit(None).cast("int").alias("bin"),
        "n",
        "pos",
        F.round(F.col("pos") / F.col("n"), 6).alias("metric"),
    )
    out = split_row.unionByName(leaf_rows)
    # OOB votes: users a tree never saw (w = 0)
    oob = (
        data.join(
            wt.filter(F.col("w") == 0).select("user_id", "tree"),
            "user_id",
        )
        .join(skey, "tree")
        .filter(F.col("fid") == F.col("sfid"))
        .select(
            "tree",
            "user_id",
            F.when(F.col("bin") <= F.col("sbin"), "L")
            .otherwise("R")
            .alias("side"),
        )
        .join(
            F.broadcast(
                leaves.select(
                    "tree",
                    "side",
                    F.col("n").alias("ln"),
                    F.col("pos").alias("lpos"),
                )
            ),
            ["tree", "side"],
        )
        .select(
            "user_id",
            (F.lit(2) * F.col("lpos") >= F.col("ln"))
            .cast("bigint")
            .alias("pred"),
        )
    )
    votes = oob.groupBy("user_id").agg(
        F.sum("pred").alias("yes"), F.count("*").alias("n_votes")
    )
    oob_row = (
        votes.join(labels, "user_id")
        .select(
            (
                (F.lit(2) * F.col("yes") >= F.col("n_votes")).cast(
                    "bigint"
                )
                == F.col("label")
            )
            .cast("bigint")
            .alias("correct")
        )
        .agg(
            F.lit("oob").alias("node"),
            F.lit("oob").alias("kind"),
            F.lit(-1).cast("int").alias("tree"),
            F.lit(None).cast("int").alias("fid"),
            F.lit(None).cast("int").alias("bin"),
            F.count("*").alias("n"),
            F.sum("correct").alias("pos"),
            F.round(F.sum("correct") / F.count("*"), 6).alias("metric"),
        )
    )
    return out.unionByName(oob_row)


def _sql_rf_weighted_split(src: str, name: str) -> str:
    """Weighted twin of ``_sql_best_split``: histogram counts are
    sum(w) / sum(w*label) over ``src`` (fid, bin, label, w)."""
    return f"""
{name}_cum AS (
  SELECT fid, bin,
         sum(n) OVER (PARTITION BY fid ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS nl,
         sum(pos) OVER (PARTITION BY fid ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS pl,
         sum(n) OVER (PARTITION BY fid) AS nt,
         sum(pos) OVER (PARTITION BY fid) AS pt
  FROM (SELECT fid, bin, CAST(sum(w) AS BIGINT) AS n,
               CAST(sum(w * label) AS BIGINT) AS pos
        FROM {src} GROUP BY 1, 2)
),
{name} AS (
  SELECT fid, bin,
         round((nl * nl - pl * pl - (nl - pl) * (nl - pl)) / nl
               + ((nt - nl) * (nt - nl) - (pt - pl) * (pt - pl)
                  - ((nt - nl) - (pt - pl)) * ((nt - nl) - (pt - pl)))
                 / (nt - nl), 9) AS score
  FROM {name}_cum
  WHERE nl > 0 AND nt - nl > 0
  ORDER BY score, fid, bin LIMIT 1
)"""


def oracle_rf_train(n_trees: int = RF_TREES) -> str:
    parts = [_SQL_DT_BINNED]
    tree_rows, oob_unions = [], []
    for t in range(n_trees):
        parts.append(
            f"""
rf_w{t} AS (
  SELECT user_id, label,
         CASE WHEN h < {RF_W0} THEN 0
              WHEN h < {RF_W1} THEN 1 ELSE 2 END AS w
  FROM (SELECT user_id, label,
               CAST(('0x' || substr(md5('rf:{t}:'
                 || CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT)
                 % 100 AS h
        FROM dt_feats)
),
rf_b{t} AS (
  SELECT b.user_id, b.label, b.fid, b.bin, w.w
  FROM dt_binned b JOIN rf_w{t} w USING (user_id)
  WHERE w.w > 0 AND b.fid <> {t % 3}
),
{_sql_rf_weighted_split(f"rf_b{t}", f"rf_s{t}")},
rf_tot{t} AS (
  SELECT CAST(sum(w) AS BIGINT) AS n,
         CAST(sum(w * label) AS BIGINT) AS pos
  FROM rf_w{t} WHERE w > 0
),
rf_leaf{t} AS (
  SELECT CASE WHEN b.bin <= s.bin THEN 'L' ELSE 'R' END AS side,
         CAST(sum(b.w) AS BIGINT) AS n,
         CAST(sum(b.w * b.label) AS BIGINT) AS pos
  FROM rf_b{t} b, rf_s{t} s
  WHERE b.fid = s.fid
  GROUP BY 1
),
rf_oobp{t} AS (
  SELECT b.user_id,
         CASE WHEN 2 * l.pos >= l.n THEN 1 ELSE 0 END AS pred
  FROM dt_binned b
  JOIN rf_w{t} w ON b.user_id = w.user_id AND w.w = 0
  JOIN rf_s{t} s ON b.fid = s.fid
  JOIN rf_leaf{t} l
    ON l.side = CASE WHEN b.bin <= s.bin THEN 'L' ELSE 'R' END
)"""
        )
        tree_rows.append(
            f"""SELECT 't{t}' AS node, 'split' AS kind,
         CAST({t} AS INT) AS tree, CAST(s.fid AS INT) AS fid,
         CAST(s.bin AS INT) AS bin, tot.n, tot.pos, s.score AS metric
  FROM rf_s{t} s, rf_tot{t} tot
  UNION ALL
  SELECT 't{t}' || side, 'leaf', {t}, CAST(NULL AS INT),
         CAST(NULL AS INT), n, pos, round(pos / CAST(n AS DOUBLE), 6)
  FROM rf_leaf{t}"""
        )
        oob_unions.append(f"SELECT user_id, pred FROM rf_oobp{t}")
    parts.append(
        f"""
rf_votes AS (
  SELECT user_id, sum(pred) AS yes, count(*) AS n_votes
  FROM ({" UNION ALL ".join(oob_unions)})
  GROUP BY 1
),
rf_oob AS (
  SELECT 'oob' AS node, 'oob' AS kind, CAST(-1 AS INT) AS tree,
         CAST(NULL AS INT) AS fid, CAST(NULL AS INT) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN (CASE WHEN 2 * v.yes >= v.n_votes
                             THEN 1 ELSE 0 END) = f.label
                       THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         round(sum(CASE WHEN (CASE WHEN 2 * v.yes >= v.n_votes
                              THEN 1 ELSE 0 END) = f.label
                        THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE), 6) AS metric
  FROM rf_votes v JOIN dt_feats f USING (user_id)
),
rf_train AS (
  {" UNION ALL ".join(tree_rows)}
  UNION ALL
  SELECT * FROM rf_oob
)"""
    )
    return ",".join(parts)
