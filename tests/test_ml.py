"""ML sanity tests (SURVEY.md §5 item 3 — rows-only checks).

Models aren't SQL-expressible; assert pipeline shape, metric ranges,
and submission-table invariants instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_instacart_market_basket_analysis_spark.ml import models as ml
from big_data_instacart_market_basket_analysis_spark.plans.instacart import (
    EVAL_TRAIN,
    instacart_tables,
)
from tests.conftest import SF_SMOKE


def test_train_metrics(spark):
    df = ml.train_metrics(instacart_tables(spark, SF_SMOKE))
    rows = {r["model"]: r for r in df.collect()}
    assert set(rows) == {"rf", "gbt", "dt"}
    for r in rows.values():
        for m in ("precision", "recall", "f1"):
            assert 0.0 <= r[m] <= 1.0, (r["model"], m, r[m])


def test_train_metrics_equal_per_model_reference(spark, monkeypatch):
    """The one scoring pass gives the rows of the per-model path: each
    ``MODEL_BUILDERS`` model fitted on the same split, its holdout
    scores binarized and counted on their own. The fits still go
    through ``MODEL_BUILDERS[name]().fit``."""
    t = instacart_tables(spark, SF_SMOKE)
    fitted = []

    def recording(name, build):
        def make():
            est = build()
            fit = est.fit
            est.fit = lambda *a, **k: fitted.append(name) or fit(*a, **k)
            return est
        return make

    builders = dict(ml.MODEL_BUILDERS)
    for name, build in builders.items():
        monkeypatch.setitem(ml.MODEL_BUILDERS, name, recording(name, build))
    got = [tuple(r) for r in ml.train_metrics(t).collect()]
    assert sorted(fitted) == sorted(builders)

    data = ml._assembled(t).filter(F.col("eval_set") == EVAL_TRAIN)
    train70, hold30 = data.randomSplit([0.7, 0.3], seed=ml.SEED)
    is1, picked1 = F.col("label") == 1.0, F.col("picked") == 1.0
    want = []
    for name, build in builders.items():
        scored = ml.binarize(build().fit(train70).transform(hold30))
        cm = scored.agg(
            F.count(F.when(is1 & picked1, 1)),
            F.count(F.when(~is1 & picked1, 1)),
            F.count(F.when(~is1 & ~picked1, 1)),
            F.count(F.when(is1 & ~picked1, 1)),
        ).first()
        want.append((name, *ml._weighted_prf(*cm)))
    assert got == want


def test_train_metrics_jobs_carry_callers_job_group(spark):
    """The fits run on pool threads; every job the query starts, theirs
    included, carries the job group the caller set."""
    sc = spark.sparkContext
    t = instacart_tables(spark, SF_SMOKE)

    def marker(group: str) -> int:
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        return max(sc.statusTracker().getJobIdsForGroup(group))

    try:
        lo = marker("tm-before")
        sc.setJobGroup("tm-query", "train_metrics")
        ml.train_metrics(t).collect()
        hi = marker("tm-after")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    started = set(range(lo + 1, hi)) - set(sc.statusTracker().getJobIdsForGroup("tm-after"))
    in_group = set(sc.statusTracker().getJobIdsForGroup("tm-query"))
    assert len(started) > 3
    assert started == in_group


def test_rf_submission_covers_all_test_orders(spark):
    t = instacart_tables(spark, SF_SMOKE)
    sub = ml.model_submission(t, "rf")
    n_test = t.test_orders.count()
    assert sub.count() == n_test
    assert sub.filter(F.col("products").isNull()).count() == 0
    # products is either 'None' or a space-joined list of integer ids
    bad = sub.filter(
        (F.col("products") != "None")
        & ~F.col("products").rlike(r"^\d+( \d+)*$")
    ).count()
    assert bad == 0


def test_model_fits_follow_rows_not_layout(spark, monkeypatch):
    """The same candidate rows in two partition layouts give the same
    submissions and cross-validation table: the fits read their rows
    in ``_fit_input``'s fixed layout, not the candidate table's, which
    follows the join build side AQE picks."""
    t = instacart_tables(spark, SF_SMOKE)
    staged = ml.candidates_staged

    def outputs(layout):
        monkeypatch.setattr(ml, "candidates_staged", lambda tt: layout(staged(tt)))
        subs = {
            m: sorted(ml.model_submission(t, m).collect())
            for m in ml.MODEL_BUILDERS
        }
        return subs, sorted(ml.cv_model_selection(t).collect())

    wide = outputs(lambda c: c.repartition(3, "productID"))
    one = outputs(
        lambda c: c.coalesce(1).sortWithinPartitions(F.desc("orderID"), "productID")
    )
    assert wide == one


def test_assemble_vector_width(spark):
    t = instacart_tables(spark, SF_SMOKE)
    from big_data_instacart_market_basket_analysis_spark.operators.candidates import (
        FEATURE_COLS,
        candidates,
    )

    row = ml.assemble(candidates(t)).select("features").first()
    assert row["features"].size == len(FEATURE_COLS)


def test_cv_model_selection_invariants(spark):
    from big_data_instacart_market_basket_analysis_spark.ml import models
    from big_data_instacart_market_basket_analysis_spark.plans.instacart import (
        instacart_tables,
    )
    from tests.conftest import SF_ORACLE

    t = instacart_tables(spark, SF_ORACLE)
    rows = models.cv_model_selection(t).collect()
    assert len(rows) == len(models.CV_MAX_DEPTHS) * len(models.CV_MAX_BINS)
    assert sum(r["is_best"] for r in rows) == 1
    best = min(rows, key=lambda r: r["avg_rmse"])
    assert best["is_best"]
    for r in rows:
        assert r["avg_rmse"] > 0.0


def test_lda_topics_structure(spark):
    from big_data_instacart_market_basket_analysis_spark.ml import unsupervised
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    rows = unsupervised.lda_topics(
        load_table(spark, "/root/testdata/sf0.001", "documents")
    ).collect()
    assert len(rows) == unsupervised.LDA_K * unsupervised.LDA_TOP_TERMS
    for r in rows:
        assert 0 <= r["topic"] < unsupervised.LDA_K
        assert r["weight"] > 0.0
        assert r["term"]


def test_word2vec_synonyms_structure(spark):
    from big_data_instacart_market_basket_analysis_spark.ml import unsupervised
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    rows = unsupervised.word2vec_synonyms(
        load_table(spark, "/root/testdata/sf0.001", "documents")
    ).collect()
    assert rows, "frequent terms should clear minCount"
    for r in rows:
        assert -1.0 <= r["similarity"] <= 1.0
        assert r["synonym"] != r["term"]


def test_kmeans_lloyd_invariants(spark):
    from big_data_instacart_market_basket_analysis_spark.operators import (
        similarity as sim,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    out = sim.kmeans_lloyd(emb)
    rows = out.collect()
    assert len(rows) == emb.count()  # every vector assigned exactly once
    clusters = {r["cluster"] for r in rows}
    assert clusters <= set(range(sim.KM_K))
    assert all(r["dist2"] >= 0 for r in rows)


def test_cart_tree_shape(spark):
    """Verified CART: leaves partition all users; split rows carry the
    node totals; rates in [0,1]."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        trees,
    )

    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    rows = trees.cart_train(events).collect()
    splits = [r for r in rows if r["kind"] == "split"]
    leaves = [r for r in rows if r["kind"] == "leaf"]
    root = next(r for r in splits if r["node"] == "")
    n_users = events.select("user_id").distinct().count()
    assert root["n"] == n_users
    assert sum(l["n"] for l in leaves) <= n_users  # childless side drops
    for l in leaves:
        assert 0.0 <= l["metric"] <= 1.0


def test_rf_forest_shape_and_oob(spark):
    """Verified RF: per tree the two leaves partition the bootstrap
    (leaf n/pos sum to the split row's weighted totals); the excluded
    feature never appears as that tree's split; OOB accuracy is a
    valid rate over at most all users."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        trees,
    )

    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    rows = trees.rf_train(events).collect()
    by_tree: dict[int, dict[str, list]] = {}
    oob = None
    for r in rows:
        if r["kind"] == "oob":
            oob = r
        else:
            by_tree.setdefault(r["tree"], {}).setdefault(
                r["kind"], []
            ).append(r)
    assert set(by_tree) == set(range(trees.RF_TREES))
    for t, kinds in by_tree.items():
        (split,) = kinds["split"]
        leaves = kinds["leaf"]
        assert split["fid"] != t % 3  # subsampled feature excluded
        assert 1 <= len(leaves) <= 2
        assert sum(l["n"] for l in leaves) == split["n"]
        assert sum(l["pos"] for l in leaves) == split["pos"]
        for l in leaves:
            assert 0.0 <= l["metric"] <= 1.0
    n_users = events.select("user_id").distinct().count()
    assert oob is not None and 0 < oob["n"] <= n_users
    assert 0.0 <= oob["metric"] <= 1.0
    assert oob["pos"] <= oob["n"]


def test_gbm_training_curve_decreases(spark):
    """Verified boosting: SSE must decrease monotonically round over
    round (squared-loss stumps can only reduce training error)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        trees,
    )

    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    rows = sorted(trees.gbm_train(events).collect(), key=lambda r: r["round"])
    assert len(rows) == trees.GB_ROUNDS
    sses = [r["sse"] for r in rows]
    assert all(b <= a for a, b in zip(sses, sses[1:])), sses


def test_logreg_training_curve(spark):
    """Verified LR must actually learn: log-loss strictly decreases
    from the 0.6931 cold start and final accuracy beats the base rate."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        glm,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )
    from tests.conftest import SF_ORACLE

    rows = (
        glm.logreg_train(load_table(spark, SF_ORACLE, "documents"))
        .orderBy("round")
        .collect()
    )
    losses = [r["log_loss"] for r in rows]
    assert abs(losses[0] - 0.693147) < 1e-6
    assert all(a > b for a, b in zip(losses, losses[1:]))
    assert rows[-1]["accuracy"] > 0.9


def test_pca_power_finds_dominant_direction(spark):
    """Anisotropic synthetic corpus: one dimension carries almost all
    variance -> the iterate must lock onto it with near-total
    explained-variance ratio."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        similarity as sim,
    )

    rows = []
    for vid in range(40):
        vec = [0.001 * ((vid * 7 + d) % 5) for d in range(64)]
        vec[3] = 1.0 if vid % 2 == 0 else -1.0
        rows.append((vid, vec, vid % 3))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = (
        sim.pca_power_iteration(emb).orderBy("round").collect()
    )
    assert out[-1]["top_dim"] == 3
    assert out[-1]["evr"] > 0.9


def test_als_sse_monotone(spark):
    """ALS coordinate descent must not increase the objective: the
    per-round SSE over observed entries is monotone non-increasing."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        factorization,
    )
    from big_data_instacart_market_basket_analysis_spark.plans.instacart import (
        instacart_tables,
    )
    from tests.conftest import SF_ORACLE

    rows = (
        factorization.als_rank1(instacart_tables(spark, SF_ORACLE))
        .orderBy("round")
        .collect()
    )
    sses = [r["sse"] for r in rows]
    assert len(sses) == factorization.ALS_ROUNDS
    assert all(a >= b for a, b in zip(sses, sses[1:]))
