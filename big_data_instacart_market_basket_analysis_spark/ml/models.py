"""ML operator surface (SURVEY.md §2k, M1-M8).

The reference trains three ``pyspark.mllib`` tree regressors over
LabeledPoint RDDs (F.py:199-200, 219-225) and glues predictions back
through pandas (F.py:293). Here the whole path is DataFrame-native
``pyspark.ml``:

- M1 one ``array_to_vector`` projection replaces the LabeledPoint map
  (F.py:199-200)
- M2 seeded ``randomSplit([0.7, 0.3])`` (F.py:214; seeded per SURVEY §5)
- M3-M5 regressors with the reference's exact hyperparameters
- M6 ``model.transform`` keeps label+features+prediction in one row,
  eliminating the RDD ``zip`` re-join (J8, F.py:242-244); the three
  holdout scorings chain into one pass and one aggregation
- M7 MulticlassClassificationEvaluator on the 0.19-thresholded
  predictions (F.py:247-276)
- M8 obsolete (no pandas re-attach needed)

Distributed-scale notes: tree training in ``pyspark.ml`` aggregates
split statistics per partition (no driver-side data pull); scoring is a
broadcast of the model into executor-side codegen'd transforms. What
reaches the driver is bounded by the models, not the data: the fitted
trees (each level's chosen splits), ``train_metrics``' one row of 12
confusion counts and ``cv_model_selection``'s cross-fold means, whose
3- and 4-row result tables go back to the JVM through ``local_rows``
(no Python worker). Every model query reads the candidate table
``candidates_staged`` persisted once per input; the assembled feature
vectors are a projection over it, not a second cached copy.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.ml.functions import array_to_vector
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
from ..sources.loaders import local_rows
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

    The vector is ``array_to_vector`` over the double-cast columns, not a
    ``VectorAssembler``: the assembler names its casts after its random
    uid, and those names are compiled into the generated class, so every
    call would compile its classes again instead of reusing the
    session's compiled copy.
    """
    return cand.na.fill(0.0, subset=FEATURE_COLS).select(
        "orderID",
        "productID",
        "eval_set",
        F.col("label").cast("double").alias("label"),
        array_to_vector(
            F.array(*[F.col(c).cast("double") for c in FEATURE_COLS])
        ).alias("features"),
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
    """Assembled candidate features: a projection over the staged,
    persisted candidate table, so every model query reads that one
    build. The projection is row-local, so the result keeps the
    candidate table's partitions (and with them ``randomSplit``'s
    output) and needs no persisted copy of its own."""
    return assemble(candidates_staged(t))


#: width of every ``_fit_input``: a module constant, not
#: ``defaultParallelism``, so a different core count cannot move a model
FIT_PARTITIONS = 8


def _fit_input(data: DataFrame) -> DataFrame:
    """``data`` hash-partitioned on the candidate key to
    ``FIT_PARTITIONS`` and sorted within each partition by it. GBT/DT
    split finding samples rows per partition and sums their statistics
    in row order, and CrossValidator's ``rand(seed)`` folds are seeded
    per partition, so a fit over the candidate table as built would
    follow its layout, which tracks the join build side AQE picks."""
    keys = ("orderID", "productID")
    return data.repartition(FIT_PARTITIONS, *keys).sortWithinPartitions(*keys)


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

    Each model is fitted with ``MODEL_BUILDERS[name]().fit``; then all
    three score the holdout in ONE transform chain and ONE aggregation
    of the 12 confusion counts (three per-model scoring jobs before,
    three evaluator jobs per model in round 1). Returns one row per
    model — the distributed replacement for the reference's printed
    "RF/GBT/DT summary on Train".
    """
    data = _assembled(t).filter(F.col("eval_set") == EVAL_TRAIN)
    train70, hold30 = data.randomSplit([0.7, 0.3], seed=SEED)
    train70 = train70.cache()
    # r10: the split is cached as drawn, never repartitioned: randomSplit
    # and the tree bootstraps are partition-seeded, results would change.
    hold30 = hold30.cache()

    def _fit(name: str):
        return MODEL_BUILDERS[name]().fit(train70)

    # the three fits are independent job chains — submit them from
    # threads so the scheduler interleaves their stages across the
    # executor pool instead of leaving it idle between iterations (the
    # driver loop is not the bottleneck; the per-iteration stage tail
    # is). The pool threads inherit the caller's job group and other
    # local properties. Results keep MODEL_BUILDERS order.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    names = list(MODEL_BUILDERS)
    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        models = list(pool.map(
            inheritable_thread_target(t.orders.sparkSession)(_fit), names
        ))

    scored, cells = hold30, []
    is1 = F.col("label") == 1.0
    for name, model in zip(names, models):
        scored = binarize(
            model.setPredictionCol(f"score_{name}").transform(scored),
            f"score_{name}",
        ).withColumnRenamed("picked", f"picked_{name}")
        picked1 = F.col(f"picked_{name}") == 1.0
        cells += [
            F.count(F.when(is1 & picked1, 1)).alias(f"tp_{name}"),
            F.count(F.when(~is1 & picked1, 1)).alias(f"fp_{name}"),
            F.count(F.when(~is1 & ~picked1, 1)).alias(f"tn_{name}"),
            F.count(F.when(is1 & ~picked1, 1)).alias(f"fn_{name}"),
        ]
    cm = scored.agg(*cells).first()
    train70.unpersist()
    hold30.unpersist()

    rows = [
        (name, *_weighted_prf(cm[f"tp_{name}"], cm[f"fp_{name}"],
                              cm[f"tn_{name}"], cm[f"fn_{name}"]))
        for name in names
    ]
    spark = t.orders.sparkSession
    return local_rows(
        spark, rows, "model string, precision double, recall double, f1 double"
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
        _fit_input(data.filter(F.col("eval_set") == EVAL_TRAIN))
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
    fitted = cv.fit(_fit_input(data))
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
    return local_rows(
        spark,
        rows,
        "max_depth int, max_bins int, avg_rmse double, is_best boolean",
    )
