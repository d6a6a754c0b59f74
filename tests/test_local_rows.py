"""``loaders.local_rows``: the one way driver-side rows become a
DataFrame. It must give what ``createDataFrame(list, ddl)`` gives —
rows and schema, nullability included — while the JVM builds the table
and no Python worker runs."""

from __future__ import annotations

import ast
import datetime

import pyspark.core.rdd

import __spark_entry__ as entry
from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
    local_rows,
)
from tests.conftest import SF_SMOKE
from tests.test_staging import _package_sources

DDL = "s string, x double, n bigint, k int, b boolean, t timestamp"
ROWS = [
    ("nan", float("nan"), 2**40, 1, True,
     datetime.datetime(2024, 3, 1, 12, 30, 5, 7, tzinfo=datetime.timezone.utc)),
    ("negzero", -0.0, -(2**33), None, False, datetime.datetime(2024, 3, 1)),
    (None, None, None, 7, None, None),
]


def test_local_rows_matches_list_path(spark):
    for rows in (ROWS, []):
        got = local_rows(spark, rows, DDL)
        want = spark.createDataFrame(rows, DDL)
        assert got.schema == want.schema
        assert [f.nullable for f in got.schema] == [True] * 6
        # repr tells NaN and -0.0 apart, which Row equality does not
        assert repr(got.collect()) == repr(want.collect())


def _enclosing(tree: ast.Module, node: ast.AST) -> str:
    """Name of the innermost function around ``node``."""
    around = [
        fn for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        and fn.lineno <= node.lineno <= fn.end_lineno
    ]
    return min(around, key=lambda fn: fn.end_lineno - fn.lineno).name if around else "<module>"


def test_only_local_rows_creates_dataframes():
    """Every table built from driver-side rows goes through the helper,
    so no query reaches pyspark's Python-worker list path."""
    sites = []
    for path in _package_sources():
        tree = ast.parse(path.read_text())
        sites += [
            (path.name, _enclosing(tree, node))
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ]
    assert sites == [("loaders.py", "local_rows")]


def test_train_metrics_is_a_local_table_scan(spark, monkeypatch):
    pipelined = []
    init = pyspark.core.rdd.PipelinedRDD.__init__

    def counting_init(self, *args, **kwargs):
        pipelined.append(self)
        init(self, *args, **kwargs)

    monkeypatch.setattr(pyspark.core.rdd.PipelinedRDD, "__init__", counting_init)
    df = entry.queries()["ml_train_metrics"](spark, SF_SMOKE)
    assert len(df.collect()) == 3
    plan = df._jdf.queryExecution().executedPlan()
    assert plan.nodeName() == "LocalTableScan"
    assert pipelined == []
