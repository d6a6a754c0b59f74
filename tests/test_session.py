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


def test_reissued_queries_compile_nothing(spark, tmp_path):
    """The pipeline on one copy of the fixture compiles more classes than
    Spark's default cache holds; the same shapes on a second copy (fresh
    input, so every staged table is built again) reuse them all."""
    queries = entry.queries()
    first, second = tmp_path / "first", tmp_path / "second"
    shutil.copytree(SF_SMOKE, first)
    shutil.copytree(SF_SMOKE, second)
    for name in PIPELINE:
        queries[name](spark, str(first)).collect()
    compiled = {}
    for name in REISSUED:
        before = _compiles(spark)
        queries[name](spark, str(second)).collect()
        compiled[name] = _compiles(spark) - before
    assert compiled == dict.fromkeys(REISSUED, 0)
