"""Distributed-rank kernel (`operators/ranking.py`): equivalence to
the SQL window functions it replaces, plan-shape guarantees (zero
single-partition WindowExec), and the `global-window` lint rule that
keeps the pattern out of future plans (round-3 verdict items 2+3)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from big_data_instacart_market_basket_analysis_spark.operators import (
    profiling as P,
    ranking as R,
)


def _users(spark, n, seed_mult=7919):
    # deterministic skewed-ish values with ties
    rows = [(i, (i * seed_mult) % 97, (i % 13) + 1) for i in range(n)]
    return spark.createDataFrame(rows, "uid long, v long, c long")


@pytest.mark.parametrize("n", [1, 2, 9, 10, 11, 100, 257])
def test_global_rank_matches_window_row_number(spark, n):
    df = _users(spark, n)
    got = {
        r["uid"]: (r["_rk"], r["_n_total"], r["_run_c"])
        for r in R.global_ranked(
            df, [F.desc("v"), F.col("uid")], sum_cols=["c"]
        ).collect()
    }
    w = Window.orderBy(F.desc("v"), "uid")
    want = {
        r["uid"]: (r["rk"], n, r["run"])
        for r in df.select(
            "uid",
            F.row_number().over(w).alias("rk"),
            F.sum("c")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("run"),
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("k", [3, 5, 10])
@pytest.mark.parametrize("n", [1, 4, 5, 6, 49, 50, 51, 100])
def test_ntile_expr_matches_sql_ntile(spark, k, n):
    df = _users(spark, n)
    ranked = R.global_ranked(df, [F.col("v"), F.col("uid")])
    got = {
        r["uid"]: r["t"]
        for r in ranked.select(
            "uid",
            R.ntile_expr(
                k, F.col("_rk"), F.col("_n_total")
            ).alias("t"),
        ).collect()
    }
    w = Window.orderBy("v", "uid")
    want = {
        r["uid"]: r["t"]
        for r in df.select(
            "uid", F.ntile(k).over(w).alias("t")
        ).collect()
    }
    assert got == want


def test_pct_rank_and_cume_match_sql(spark):
    df = _users(spark, 83)
    ranked = R.global_ranked(df, [F.col("v"), F.col("uid")])
    got = {
        r["uid"]: (round(r["p"], 9), round(r["c"], 9))
        for r in ranked.select(
            "uid",
            R.percent_rank_expr(
                F.col("_rk"), F.col("_n_total")
            ).alias("p"),
            R.cume_dist_expr(F.col("_rk"), F.col("_n_total")).alias(
                "c"
            ),
        ).collect()
    }
    w = Window.orderBy("v", "uid")
    want = {
        r["uid"]: (round(r["p"], 9), round(r["c"], 9))
        for r in df.select(
            "uid",
            F.percent_rank().over(w).alias("p"),
            F.cume_dist().over(w).alias("c"),
        ).collect()
    }
    assert got == want


def test_kernel_plan_has_no_global_window(spark):
    """The whole point: zero single-partition WindowExec in the
    kernel's executed plan (offsets are array prefix-sums, local
    ranks are partitioned by spark_partition_id)."""
    df = _users(spark, 100)
    out = R.global_ranked(df, [F.desc("v"), F.col("uid")], ["c"])
    text = out._jdf.queryExecution().executedPlan().toString()
    assert P._count_global_windows(text) == 0
    assert "Exchange rangepartitioning" in text  # the real shuffle


def test_kernel_range_exchange_is_reused_not_resampled(spark):
    """ADVICE r4 (medium): the per-partition stats branch and the
    offsets join branch must read ONE materialized range exchange.
    RangePartitioner samples boundaries with RDD-id-derived seeds, so
    two independent exchanges could place the same row in different
    _pid's across branches — silently wrong ranks. Pin the executed
    final plan: exactly one real Exchange rangepartitioning, and the
    second consumer a ReusedExchange of it."""
    df = _users(spark, 500)
    out = R.global_ranked(df, [F.desc("v"), F.col("uid")], ["c"])
    out.collect()
    final = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    lines = final.splitlines()
    real = [
        ln
        for ln in lines
        if "Exchange rangepartitioning" in ln
        and "ReusedExchange" not in ln
    ]
    reused = [ln for ln in lines if "ReusedExchange" in ln]
    assert len(real) == 1, final
    assert len(reused) == 1 and "rangepartitioning" in reused[0], final


def test_bucket_prefix_offsets_matches_window_prefix(spark):
    """The packed-array bucket offsets (zero WindowExec) must equal
    the textbook exclusive-prefix window."""
    rows = [(b, (b * 31) % 17 + 1, (b * 7) % 5) for b in range(-6, 9)]
    btot = spark.createDataFrame(rows, "bucket long, n long, pos long")
    got = {
        r["bucket"]: (r["_off_n"], r["_off_pos"])
        for r in R.bucket_prefix_offsets(
            btot, "bucket", ["n", "pos"]
        ).collect()
    }
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r["bucket"]: (r["on"], r["op"])
        for r in btot.select(
            "bucket",
            F.coalesce(F.sum("n").over(w), F.lit(0)).alias("on"),
            F.coalesce(F.sum("pos").over(w), F.lit(0)).alias("op"),
        ).collect()
    }
    assert got == want
    # and the helper's own plan carries no WindowExec at all
    out = R.bucket_prefix_offsets(btot, "bucket", ["n"])
    text = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in text


def test_global_window_lint_sees_through_reused_exchange(spark):
    """ADVICE r4: a ReusedExchange referencing a SinglePartition
    exchange, or extra Project/Filter wrappers between Sort and
    Exchange, must not hide a global window from the lint (the old
    3-line peek could miss both). Execute a plan whose SECOND global
    window reads the reused single-partition exchange and assert both
    are counted."""
    df = _users(spark, 60)
    w = Window.orderBy("v", "uid")
    ranked = df.select("uid", "v", F.row_number().over(w).alias("rk"))
    agg = ranked.groupBy("v").agg(F.max("rk").alias("m"))
    j = ranked.join(agg, "v")
    j.collect()
    text = j._jdf.queryExecution().executedPlan().toString()
    if "ReusedExchange" in text:  # AQE reused it, as in production
        assert P._count_global_windows(text) == 2, text


def test_global_window_lint_rule_catches_planted_violation(spark):
    """Plant the exact anti-pattern the rule exists for and assert it
    fires; then assert the kernel-based twin is clean."""
    df = _users(spark, 50)
    bad = df.select(
        "uid", F.row_number().over(Window.orderBy("v", "uid")).alias("rk")
    )
    findings = P.plan_lint(bad, "planted")
    rules = {f["rule"] for f in findings}
    assert "global-window" in rules

    good = R.global_ranked(df, [F.col("v"), F.col("uid")])
    assert "global-window" not in {
        f["rule"] for f in P.plan_lint(good, "kernel")
    }


#: queries allowed bounded global windows (day/bucket/decile/lag
#: grain — see SCALE.md). Everything else in the sweep must be 0.
_BOUNDED_GLOBAL_WINDOW_OK = {
    "events_retention",
    "events_incremental_rollup",
    "events_ohlc",
    "events_session_paths",
}


def test_hot_tier_plans_global_window_sweep(spark):
    """Regression sweep: build every HOT-tier bench plan and assert no
    query outside the bounded-grain whitelist carries a
    single-partition WindowExec. Catches any future operator that
    reintroduces the user-grain global-sort pattern the rank kernel
    retired."""
    import bench
    import __spark_entry__ as entry

    from tests.conftest import SF_SMOKE

    qs = entry.queries()
    offenders = {}
    for name in bench.HOT:
        df = qs[name](spark, SF_SMOKE)
        text = df._jdf.queryExecution().executedPlan().toString()
        n = P._count_global_windows(text)
        if n and name not in _BOUNDED_GLOBAL_WINDOW_OK:
            offenders[name] = n
    assert not offenders, offenders


def test_fixed_user_grain_queries_lint_clean(spark):
    """The five round-3 'weak' sites, post-conversion: ZERO user-grain
    global windows. revenue_concentration and qini_uplift keep exactly
    one 10-row DECILE-grain cumulative window each (bounded by
    construction — LORENZ_POINTS rows — the shape the verdict
    explicitly allows); any regression shows up as a higher count."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        temporal as T,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events")
    expected = {
        "user_spend_deciles": (T.user_spend_deciles(events), 0),
        "rfm_segments": (T.rfm_segments(events), 0),
        "revenue_concentration": (T.revenue_concentration(events), 1),
        "qini_uplift": (T.qini_uplift(events), 1),
        "hill_tail_index": (T.hill_tail_index(events), 0),
    }
    for name, (df, n_bounded) in expected.items():
        text = df._jdf.queryExecution().executedPlan().toString()
        assert P._count_global_windows(text) == n_bounded, name


#: value-grain cases for ``value_prefix``: (value, count) rows, counts
#: > 1 standing for tied rows. The octave of the raw value puts -0.25
#: above 0.5, so the fractional case needs the octave of floor(value).
VALUE_CASES = {
    "fractional": (
        "double",
        [(-0.75, 2), (-0.25, 1), (0.5, 3), (-1.5, 1), (0.0, 2),
         (2.25, 1), (-3.0, 4), (7.5, 1), (-0.001, 1), (0.999, 2)],
    ),
    "wide_ints": (
        "long",
        [(-(2**40), 1), (-(2**40) + 1, 2), (-5, 1), (-1, 3), (0, 1),
         (1, 2), (2**20, 1), (2**40 - 1, 5), (2**40, 1)],
    ),
}


def _plain_prefix(vg, cols, inclusive, group_cols=()):
    """The textbook prefix: a ``Window.orderBy(value)`` running sum."""
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    return {
        tuple(r[:-len(cols)]): tuple(r[-len(cols):])
        for r in vg.select(
            *group_cols,
            "v",
            *[
                F.coalesce(F.sum(c).over(w), F.lit(0)).alias(c)
                for c in cols
            ],
        ).collect()
    }


def _kernel_prefix(vg, cols, inclusive, group_cols=()):
    out = R.value_prefix(vg, cols, "v", inclusive, group_cols)
    return {
        tuple(r[:-len(cols)]): tuple(r[-len(cols):])
        for r in out.select(
            *group_cols, "v", *[f"_pre_{c}" for c in cols]
        ).collect()
    }


@pytest.mark.parametrize("inclusive", [False, True])
@pytest.mark.parametrize("case", sorted(VALUE_CASES))
def test_value_prefix_matches_window_prefix(spark, case, inclusive):
    vtype, rows = VALUE_CASES[case]
    vg = spark.createDataFrame(
        [(v, c, c * 3 - 1) for v, c in rows], f"v {vtype}, c long, s long"
    )
    assert _kernel_prefix(vg, ["c", "s"], inclusive) == _plain_prefix(
        vg, ["c", "s"], inclusive
    )


@pytest.mark.parametrize("inclusive", [False, True])
def test_value_prefix_grouped_matches_window_prefix(spark, inclusive):
    """Per-group prefixes: the same value (a tie across groups) counts
    only inside its own group."""
    rows = [
        (g, v, (g * 7 + i) % 4 + 1)
        for g in range(3)
        for i, v in enumerate([-2.5, -0.25, 0.5, 1.0, 3.75, -0.75][g:])
    ]
    vg = spark.createDataFrame(rows, "g int, v double, c long")
    assert _kernel_prefix(vg, ["c"], inclusive, ("g",)) == _plain_prefix(
        vg, ["c"], inclusive, ("g",)
    )


def test_value_prefix_plan_has_no_global_window(spark):
    vtype, rows = VALUE_CASES["fractional"]
    vg = spark.createDataFrame(rows, f"v {vtype}, c long")
    out = R.value_prefix(vg, ["c"], "v", inclusive=True)
    text = out._jdf.queryExecution().executedPlan().toString()
    assert P._count_global_windows(text) == 0


# ---------------------------------------------------------------------------
# one prefix kernel: no hand-rolled bucketed prefix outside ranking.py
# ---------------------------------------------------------------------------

#: functions outside ranking.py that keep a window ordered by a bucket
#: column, each with the reason the kernels here do not fit it.
BUCKET_WINDOW_EXCEPTIONS = {
    "analytics.pareto_skyline": "a prefix MAX, which no sum kernel gives",
    "profiling.delta_encoding_advisor": "a lag of the previous bucket's "
                                        "max, not a prefix",
    "glm.conformal_ols": "a histogram with a fixed number of rows",
    "textstats.heaps_curve": "a histogram with a fixed number of rows",
    "calendar.concurrency_curve": "a row-level (ms, delta) sweep; its "
                                  "ties are rows, not values",
}


def _window_columns(node) -> tuple[list, list]:
    """(partitionBy columns, orderBy columns) of a ``Window....`` chain
    ending at ``node``, or None when the chain is not rooted at
    ``Window``. Columns are the string literals in the calls' args,
    also inside ``F.col``/``F.desc``/``F.asc``."""
    import ast

    parts, orders = [], []
    while isinstance(node, ast.Call) and isinstance(
        node.func, ast.Attribute
    ):
        names = [
            n.value
            for a in node.args
            for n in ast.walk(a)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)
        ]
        if node.func.attr == "partitionBy":
            parts += names
        elif node.func.attr == "orderBy":
            orders += names
        node = node.func.value
    if isinstance(node, ast.Name) and node.id == "Window":
        return parts, orders
    return None


def _bucket_windows(path) -> set[str]:
    """Top-level functions of ``path`` holding a window ordered first
    by a bucket column: a column named like a bucket, or one another
    window of the same function partitions by (the within-bucket half
    of a hand-rolled bucketed prefix)."""
    import ast

    hits = set()
    tree = ast.parse(path.read_text())
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        specs = [
            s for s in map(_window_columns, ast.walk(fn)) if s is not None
        ]
        partitioned = {c for parts, _ in specs for c in parts}
        for _, orders in specs:
            if orders and ("bucket" in orders[0] or orders[0] in partitioned):
                hits.add(f"{path.stem}.{fn.name}")
    return hits


def _operator_sources():
    from pathlib import Path

    return sorted(Path(R.__file__).parent.rglob("*.py"))


def test_one_value_prefix_kernel():
    """Every bucketed prefix sum and row rank goes through ranking.py:
    outside it, a window ordered by a bucket column remains only in
    the named exceptions, and no module imports a private prefix
    helper from another."""
    import ast

    hits = set()
    private_imports = []
    for path in _operator_sources():
        tree = ast.parse(path.read_text())
        private_imports += [
            f"{path.stem}: {a.name}"
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.name.startswith("_") and "prefix" in a.name
        ]
        if path.name != "ranking.py":
            hits |= _bucket_windows(path)
    assert private_imports == []
    assert hits == set(BUCKET_WINDOW_EXCEPTIONS)
