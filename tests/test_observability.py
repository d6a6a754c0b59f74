"""Observation metrics + Arrow-UDF parity checks.

``df.observe`` collects pipeline invariants during the job itself (no
second pass over the data — the metric rides the action), which is how
a 100 TB run self-reports row counts and quality tallies. The Arrow
test pins the Pandas-UDF cosine to the native Catalyst expression so a
custom Python scorer can be swapped into the ANN operators without a
correctness cliff.
"""

from __future__ import annotations

import os

from pyspark.sql import Observation
from pyspark.sql import functions as F

from big_data_instacart_market_basket_analysis_spark.operators import (
    similarity,
    textstats,
)
from tests.conftest import SF_ORACLE, SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF_ORACLE}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")


def test_observe_collects_metrics_in_one_pass(spark):
    """Quality scoring with an attached Observation: the row count and
    below-threshold tally arrive with the action, no extra job."""
    obs = Observation("quality")
    scored = textstats.quality_scores(_docs(spark)).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("quality_score") < 0.5).cast("bigint")).alias(
            "n_low_quality"
        ),
    )
    n = scored.count()
    got = obs.get
    assert got["n_rows"] == n
    direct = scored.filter(F.col("quality_score") < 0.5).count()
    assert got["n_low_quality"] == direct


def test_pandas_udf_cosine_matches_native(spark):
    """The Arrow-batched cosine equals the Catalyst-expression cosine
    on every query/neighbor pair (1e-9 — float assoc differences
    only)."""
    emb = _emb(spark).limit(80)
    pairs = (
        emb.select(F.col("vec_id").alias("qid"),
                   F.col("embedding").cast("array<double>").alias("qv"))
        .crossJoin(
            emb.select(F.col("vec_id").alias("nid"),
                       F.col("embedding").cast("array<double>").alias("cv"))
        )
        .filter(F.col("qid") < F.col("nid"))
        .limit(500)
    )
    cos_pd = similarity.cosine_pandas_udf()
    both = pairs.select(
        "qid", "nid",
        similarity._cosine("qv", "cv").alias("native"),
        cos_pd("qv", "cv").alias("arrow"),
    ).collect()
    assert both
    for r in both:
        assert abs(r["native"] - r["arrow"]) < 1e-9, (r["qid"], r["nid"])


def test_apply_in_pandas_centroids_match_native(spark):
    """Grouped-map applyInPandas centroid == native posexplode+avg
    composition, element-wise within 1e-9."""
    import math

    rows = [
        (i, i % 3, [float(i), float(i * 2 % 7), float(i * 3 % 5)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, cell long, embedding array<double>")

    got = {
        r["cell"]: r["centroid"]
        for r in similarity.grouped_centroids(df).collect()
    }
    native = (
        df.select("cell", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("s"))
        .select("cell", F.expr("transform(s, e -> e.m)").alias("centroid"))
    )
    want = {r["cell"]: r["centroid"] for r in native.collect()}
    assert set(got) == set(want) == {0, 1, 2}
    for cell in got:
        assert all(
            math.isclose(a, b, abs_tol=1e-9)
            for a, b in zip(got[cell], want[cell])
        )


def test_python_udtf_sentences_match_native_split(spark):
    """Python UDTF (1 row -> N rows, the modern form of the reference's
    datasetFeatures UDTF, SURVEY §2j U2) == native posexplode(split)."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="doc_id: bigint, sent_idx: int, sentence: string")
    class SplitSentences:
        def eval(self, doc_id, text):
            import re

            parts = [p for p in re.split(r"[.!?]\s+", text) if p]
            for i, s in enumerate(parts):
                yield doc_id, i, s

    spark.udtf.register("split_sentences", SplitSentences)
    spark.createDataFrame(
        [(0, "One sentence. Two now! And three? yes"),
         (1, "single"),],
        ["doc_id", "text"],
    ).createOrReplaceTempView("udtf_docs")
    got = {
        (r["doc_id"], r["sent_idx"], r["sentence"])
        for r in spark.sql(
            "SELECT s.* FROM udtf_docs, "
            "LATERAL split_sentences(doc_id, text) s"
        ).collect()
    }
    native = {
        (r["doc_id"], r["sent_idx"], r["sentence"])
        for r in spark.sql(
            "SELECT doc_id, posexplode(filter(split(text, '[.!?]\\\\s+'),"
            " x -> x != '')) AS (sent_idx, sentence) FROM udtf_docs"
        ).collect()
    }
    assert got == native and len(got) == 5


def test_plan_lint_flags_antipatterns(spark):
    """Each lint rule fires on a plan constructed to contain it."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        profiling as prof,
    )
    from pyspark.sql import functions as F, types as T

    a = spark.range(10).withColumnRenamed("id", "x")
    b = spark.range(10).withColumnRenamed("id", "y")

    rules = lambda fs: {f["rule"] for f in fs}  # noqa: E731

    # a cross join with a broadcast-able side plans as
    # BroadcastNestedLoopJoin; CartesianProduct appears only when
    # neither side can broadcast — force that to exercise the rule
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cross = a.crossJoin(b)
        assert "cartesian-join" in rules(prof.plan_lint(cross, "cross"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    nlj = a.join(b, a.x < b.y)  # inequality-only condition
    assert "nested-loop-join" in rules(prof.plan_lint(nlj, "nlj"))

    slow = F.udf(lambda v: v + 1, T.LongType())
    udfplan = a.select(slow("x").alias("x2"))
    assert "python-row-udf" in rules(prof.plan_lint(udfplan, "udf"))

    from pyspark.sql import Window

    w = Window.orderBy("x")  # global window, no partition key
    funnel = a.withColumn("rn", F.row_number().over(w))
    assert "single-partition-exchange" in rules(
        prof.plan_lint(funnel, "funnel")
    )


def test_plan_lint_clean_plan_and_shuffle_count(spark):
    """A well-shaped plan yields only the info shuffle-count row, and
    the count matches the single hash exchange of a groupBy."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        profiling as prof,
    )
    from pyspark.sql import functions as F

    df = (
        spark.range(100)
        .withColumn("k", F.col("id") % 5)
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )
    findings = prof.plan_lint(df, "agg")
    assert [f["rule"] for f in findings] == ["shuffle-count"]
    assert findings[0]["n_hits"] == 1


def test_plan_lint_shuffle_count_skips_cached_table_plans(spark):
    """A query over a persisted, materialized aggregate runs one
    exchange of its own; the cached table's plan (rendered twice in the
    executed-plan text once it is materialized) is not counted."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        profiling as prof,
    )

    agg = (
        spark.range(100)
        .groupBy((F.col("id") % 10).alias("k"))
        .agg(F.count("*").alias("n"))
        .persist()
    )
    try:
        assert agg.count() == 10
        df = agg.groupBy((F.col("k") % 3).alias("g")).agg(F.sum("n"))
        text = df._jdf.queryExecution().executedPlan().toString()
        assert text.count("Exchange hashpartitioning") > 1, text
        [row] = [f for f in prof.plan_lint(df, "q")
                 if f["rule"] == "shuffle-count"]
        assert row["n_hits"] == 1
        assert row["n_hits"] == len(
            prof._plan_nodes(df, "ShuffleExchangeExec")
        )
    finally:
        agg.unpersist()


def test_plan_lint_report_lints_feature_build_plans(spark):
    """The report's feature rows lint the feature builds, not the
    session's persisted copies of them: at sf0.01 both builds run
    shuffles of their own, so neither ``shuffle-count`` row reads 0."""
    import __spark_entry__ as entry

    sf001 = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
    rows = entry.queries()["plan_lint_report"](spark, sf001).collect()
    shuffles = {
        r["plan"]: r["n_hits"] for r in rows if r["rule"] == "shuffle-count"
    }
    assert shuffles["product_features"] > 0, shuffles
    assert shuffles["users_final"] > 0, shuffles
