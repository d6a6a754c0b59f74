"""The session factory's compiled-class cache.

Spark compiles each whole-stage-codegen class with Janino and keeps it
in one process-wide cache keyed by the generated code text. Its default
size (100 classes) is smaller than what one pass of the reorder
pipeline compiles, so a re-issued query would compile every class
again. ``get_spark`` sizes the cache to the engine's query surface, and
no per-call name (such as an ML stage's random uid) may reach generated
code, so a query re-issued on new input of the same shape compiles
nothing.
"""

from __future__ import annotations

import shutil

import __spark_entry__ as entry
from big_data_instacart_market_basket_analysis_spark.session import (
    CODEGEN_CACHE_ENTRIES,
)
from tests.conftest import SF_SMOKE

#: the benchmark's reorder_pipeline pass, in its order
PIPELINE = (
    "ingest_orders", "product_features", "users_final",
    "user_product_features", "candidates", "ml_train_metrics",
    "proxy_submission", "ef1_submission",
)
REISSUED = ("product_features", "candidates", "ml_train_metrics",
            "proxy_submission")


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def _reissue_compiles(spark, tmp_path, warm, reissued, copies=1) -> dict[str, int]:
    """Classes each of ``reissued`` compiles, summed over ``copies``
    further copies of the fixture (fresh input, so every staged table is
    built again), after ``warm`` ran on a first copy."""
    queries = entry.queries()
    dirs = []
    for i in range(copies + 1):
        shutil.copytree(SF_SMOKE, tmp_path / f"copy{i}")
        dirs.append(str(tmp_path / f"copy{i}"))
    for name in warm:
        queries[name](spark, dirs[0]).collect()
    compiled = dict.fromkeys(reissued, 0)
    for sf_dir in dirs[1:]:
        for name in reissued:
            before = _compiles(spark)
            queries[name](spark, sf_dir).collect()
            compiled[name] += _compiles(spark) - before
    return compiled


def test_reissued_queries_compile_nothing(spark, tmp_path):
    """The pipeline on one copy of the fixture compiles more classes than
    Spark's default cache holds; the same shapes on a second copy reuse
    them all."""
    compiled = _reissue_compiles(spark, tmp_path, PIPELINE, REISSUED)
    assert compiled == dict.fromkeys(REISSUED, 0)


def test_reissued_graph_kcore_compiles_nothing(spark, tmp_path):
    """k-core's convergence flag joins two one-row counts. Unhinted, AQE
    broadcast either one, and the flip swapped the operands in the
    generated class: 2 classes compiled again on some issue among the
    first five, in every run tried. With the build side hinted, four
    re-issues compile nothing."""
    compiled = _reissue_compiles(
        spark, tmp_path, ["graph_kcore"], ["graph_kcore"], copies=4
    )
    assert compiled == {"graph_kcore": 0}


def test_reissued_betweenness_stability_compiles_nothing(spark, tmp_path):
    """The stability eval runs the pivot BFS and the backward
    accumulation again from a second pivot set, then joins the two
    node-grain score tables. Unhinted, AQE broadcast one side of these
    joins on one issue and the other side on the next, and the flip
    compiled their classes again: 2 to 7 classes over five re-issues
    in the runs tried. With the build sides hinted, five re-issues
    compile nothing."""
    compiled = _reissue_compiles(
        spark, tmp_path, ["graph_betweenness_stability"],
        ["graph_betweenness_stability"], copies=5,
    )
    assert compiled == {"graph_betweenness_stability": 0}
