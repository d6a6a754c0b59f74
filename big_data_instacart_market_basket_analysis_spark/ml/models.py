"""ML operator surface (SURVEY.md §2k, M1-M8).

The reference trains three ``pyspark.mllib`` tree regressors over
LabeledPoint RDDs (F.py:199-200, 219-225) and glues predictions back
through pandas (F.py:293). Here the whole path is DataFrame-native
``pyspark.ml``:

- M1 VectorAssembler replaces the LabeledPoint map (F.py:199-200)
- M2 seeded ``randomSplit([0.7, 0.3])`` (F.py:214; seeded per SURVEY §5)
- M3-M5 regressors with the reference's exact hyperparameters
- M6 ``model.transform`` keeps label+features+prediction in one row,
  eliminating the RDD ``zip`` re-join (J8, F.py:242-244)
- M7 MulticlassClassificationEvaluator on the 0.19-thresholded
  predictions (F.py:247-276)
- M8 obsolete (no pandas re-attach needed)

Distributed-scale notes: tree training in ``pyspark.ml`` aggregates
split statistics per partition (no driver-side data pull); scoring is a
broadcast of the model into executor-side codegen'd transforms. The only
driver materialization anywhere is the final metrics row.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.ml.feature import VectorAssembler
from pyspark.ml.regression import (
    DecisionTreeRegressor,
    GBTRegressor,
    RandomForestRegressor,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators._staging import stage as _stage
from ..operators.candidates import FEATURE_COLS, candidates_staged
from ..operators.submission import THRESHOLD, submission
from ..plans.instacart import EVAL_TEST, EVAL_TRAIN, InstacartTables

SEED = 42

#: M3-M5 with the reference's hyperparameters (F.py:219-225).
MODEL_BUILDERS: dict[str, Callable[[], object]] = {
    "rf": lambda: RandomForestRegressor(
        numTrees=3,
        maxDepth=4,
        maxBins=32,
        featureSubsetStrategy="auto",
        seed=SEED,
        labelCol="label",
        featuresCol="features",
    ),
    "gbt": lambda: GBTRegressor(
        maxIter=3, seed=SEED, labelCol="label", featuresCol="features"
    ),
    "dt": lambda: DecisionTreeRegressor(
        maxDepth=5, maxBins=32, seed=SEED, labelCol="label",
        featuresCol="features",
    ),
}


def assemble(cand: DataFrame) -> DataFrame:
    """M1: candidate rows -> (keys, label double, features vector).

    Ratio features are null when a denominator was 0 (engine division
    semantics, SURVEY §2h F3); trees need finite inputs, so nulls become
    0.0 — the reference's pandas rows would carry inf/NaN into MLlib
    here, which is replicating a crash, not a semantic (SURVEY §2 bug
    list rationale).
    """
    filled = cand.na.fill(0.0, subset=FEATURE_COLS).withColumn(
        "label", F.col("label").cast("double")
    )
    va = VectorAssembler(inputCols=FEATURE_COLS, outputCol="features")
    return va.transform(filled).select(
        "orderID", "productID", "eval_set", "label", "features"
    )


def binarize(scored: DataFrame, score_col: str = "prediction") -> DataFrame:
    """P6 (F.py:242-244): threshold the regression score at 0.19."""
    return scored.withColumn(
        "picked",
        F.when(F.col(score_col) < THRESHOLD, F.lit(0.0)).otherwise(
            F.lit(1.0)
        ),
    )


def _assembled(t: InstacartTables) -> DataFrame:
    """Assembled candidate features, persisted once per
    InstacartTables (instacart_tables stages t per session, so the
    three per-model submission queries and train_metrics all share
    ONE entry instead of leaking one per call)."""
    from pyspark import StorageLevel

    return _stage(
        "assembled", t,
        lambda: assemble(candidates_staged(t)).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
        checkpoint=False,
    )


def _weighted_prf(tp: int, fp: int, tn: int, fn: int) -> tuple[float, float, float]:
    """M7: label-frequency-weighted precision/recall/F1 from the four
    confusion-matrix counts — the same definitions
    MulticlassClassificationEvaluator computes, but derived from one
    integral aggregation instead of three full evaluator passes.
    """

    def _div(a: float, b: float) -> float:
        return a / b if b else 0.0

    n = tp + fp + tn + fn
    actual1, actual0 = tp + fn, tn + fp
    p1, p0 = _div(tp, tp + fp), _div(tn, tn + fn)
    r1, r0 = _div(tp, actual1), _div(tn, actual0)
    f1_1 = _div(2 * p1 * r1, p1 + r1)
    f1_0 = _div(2 * p0 * r0, p0 + r0)
    return (
        _div(actual1 * p1 + actual0 * p0, n),
        _div(actual1 * r1 + actual0 * r0, n),
        _div(actual1 * f1_1 + actual0 * f1_0, n),
    )


def train_metrics(t: InstacartTables) -> DataFrame:
    """M2+M7 (F.py:214-276): per-model precision/recall/F1 on the 30%
    holdout of the train candidates, scores thresholded at 0.19.

    One scoring pass + one 4-count confusion-matrix aggregation per
    model (round-1 version ran three evaluator jobs per model over an
    uncached transform — 9 full passes). Returns one row per model —
    the distributed replacement for the reference's printed
    "RF/GBT/DT summary on Train".
    """
    data = _assembled(t).filter(F.col("eval_set") == EVAL_TRAIN)
    train70, hold30 = data.randomSplit([0.7, 0.3], seed=SEED)
    train70 = train70.cache()
    # r10: each of the three models transforms + aggregates hold30 —
    # cache it too so the split sampling runs once, not three times
    # (the split itself must NOT be repartitioned: randomSplit and the
    # tree bootstraps are partition-seeded, results would change).
    hold30 = hold30.cache()

    is1 = F.col("label") == 1.0
    picked1 = F.col("picked") == 1.0

    def _one(name_build: tuple) -> tuple:
        name, build = name_build
        model = build().fit(train70)
        scored = binarize(model.transform(hold30))
        cm = scored.agg(
            F.count(F.when(is1 & picked1, 1)).alias("tp"),
            F.count(F.when(~is1 & picked1, 1)).alias("fp"),
            F.count(F.when(~is1 & ~picked1, 1)).alias("tn"),
            F.count(F.when(is1 & ~picked1, 1)).alias("fn"),
        ).first()
        return (name, *_weighted_prf(cm["tp"], cm["fp"], cm["tn"],
                                     cm["fn"]))

    # the three fits are independent job chains — submit them from
    # threads so the scheduler interleaves their stages across the
    # executor pool instead of leaving it idle between iterations (the
    # driver loop is not the bottleneck; the per-iteration stage tail
    # is). Results keep MODEL_BUILDERS order.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(MODEL_BUILDERS)) as pool:
        rows = list(pool.map(_one, MODEL_BUILDERS.items()))
    train70.unpersist()
    hold30.unpersist()

    spark = t.orders.sparkSession
    return spark.createDataFrame(
        rows, "model string, precision double, recall double, f1 double"
    )


def model_submission(t: InstacartTables, model_name: str) -> DataFrame:
    """M3-M6 + A12/J9 (F.py:280-318 et al.): train on all train
    candidates, score test candidates, emit the submission table.

    The reference's DT submission actually prints GBT output (bug at
    F.py:390, ``dat2`` vs ``dat3``); this implements the intended
    per-model semantics.
    """
    data = _assembled(t)
    model = MODEL_BUILDERS[model_name]().fit(
        data.filter(F.col("eval_set") == EVAL_TRAIN)
    )
    test_scored = model.transform(data.filter(F.col("eval_set") == EVAL_TEST))
    return submission(t, test_scored, score_col="prediction")


#: hyperparameter grid for cross-validated model selection: small on
#: purpose (2x2) — the point is the distributed search machinery, and
#: fit count is folds x combos (12 here).
CV_FOLDS = 3
CV_MAX_DEPTHS = (3, 5)
CV_MAX_BINS = (16, 32)


def cv_model_selection(t: InstacartTables) -> DataFrame:
    """Cross-validated hyperparameter search (the model-selection
    stage the reference hardcodes away at F.py:219-225): k-fold
    CrossValidator over a DecisionTreeRegressor grid, scored by RMSE
    on the regression output (thresholding happens downstream).

    Distributed shape: every (fold, combo) fit is an independent
    distributed tree build; ``parallelism`` submits them concurrently
    so the executor pool stays busy across fits (same rationale as the
    threaded train_metrics). avgMetrics aligns 1:1 with the param
    grid — the result is one row per combo with its cross-fold mean
    RMSE and the selected-best flag. Seeded fold assignment makes the
    whole table deterministic (rows-only driver check + invariants in
    ``tests/test_ml.py``).
    """
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    data = _assembled(t).filter(F.col("eval_set") == EVAL_TRAIN)
    dt = DecisionTreeRegressor(
        seed=SEED, labelCol="label", featuresCol="features"
    )
    grid = (
        ParamGridBuilder()
        .addGrid(dt.maxDepth, list(CV_MAX_DEPTHS))
        .addGrid(dt.maxBins, list(CV_MAX_BINS))
        .build()
    )
    cv = CrossValidator(
        estimator=dt,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(
            labelCol="label", predictionCol="prediction", metricName="rmse"
        ),
        numFolds=CV_FOLDS,
        parallelism=4,
        seed=SEED,
    )
    fitted = cv.fit(data)
    best = min(range(len(grid)), key=lambda i: fitted.avgMetrics[i])
    rows = [
        (
            pm[dt.maxDepth],
            pm[dt.maxBins],
            float(fitted.avgMetrics[i]),
            i == best,
        )
        for i, pm in enumerate(grid)
    ]
    spark = t.orders.sparkSession
    return spark.createDataFrame(
        rows,
        "max_depth int, max_bins int, avg_rmse double, is_best boolean",
    )
