"""The shared graph kernels and the queries built on them.

`operators/graph.py` runs four algorithms through one private kernel
each (`_pagerank`, `_bellman_ford`, `_link_scores`, `_node_triangles`).
These tests pin what the fixtures alone do not: k-core's `converged`
flag on a graph that has not converged, the identity of the two
PageRank variants when every node is a seed, and the DuckDB
differential of every query on those kernels on a generated input
twice the benchmark's shape.
"""

from __future__ import annotations

import dataclasses
import os
import sys
import time

import duckdb
import pytest

import __spark_entry__ as entrymod
from big_data_instacart_market_basket_analysis_spark.operators import graph
from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _path_graph_lineitem():
    """Orders {i, i+1} over parts 1..12: the co-purchase graph is the
    path 1-2-...-12."""
    return [(i, p) for i in range(1, 12) for p in (i, i + 1)]


@pytest.mark.parametrize(
    "rounds, converged, in_core",
    [(2, 0, set(range(4, 10))), (6, 1, set())],
)
def test_kcore_converged_compares_last_two_rounds(
    spark, rounds, converged, in_core
):
    """k=2 peels the path two nodes a round: the survivors are 2..11,
    3..10, 4..9, 5..8, 6..7, then none. After 2 rounds the second
    round still dropped nodes 3 and 10, so neither side may report
    convergence; after 6 rounds the last round dropped nobody."""
    rows = _path_graph_lineitem()
    li = spark.createDataFrame(rows, "l_orderkey BIGINT, l_partkey BIGINT")
    got = graph.k_core_membership(li, k=2, rounds=rounds).collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_orderkey BIGINT, l_partkey BIGINT)")
    con.executemany("INSERT INTO lineitem VALUES (?, ?)", rows)
    want = con.execute(
        "WITH " + graph.oracle_k_core(k=2, rounds=rounds).strip()
        + " SELECT node, in_core, converged FROM k_core_membership"
    ).fetchall()

    assert len(got) == len(want) == 12
    assert {r["converged"] for r in got} == {converged}
    assert {c for _, _, c in want} == {converged}
    assert {r["node"] for r in got if r["in_core"]} == in_core
    assert {n for n, i, _ in want if i} == in_core


def test_ppr_with_every_node_a_seed_is_pagerank(spark, monkeypatch):
    """With PPR_SEED_MOD = 1 every node is a seed, so personalized
    PageRank's start and restart are PageRank's: the ranks agree on
    every node."""
    monkeypatch.setattr(graph, "PPR_SEED_MOD", 1)
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    pr = {
        r["node"]: r["rank_millionths"]
        for r in graph.pagerank_products(li).collect()
    }
    ppr = graph.personalized_pagerank(li).collect()
    assert {r["is_seed"] for r in ppr} == {1}
    assert {r["node"]: r["rank_millionths"] for r in ppr} == pr
    assert len(pr) > 100


#: every query that runs on one of the shared graph kernels
KERNEL_QUERIES = (
    "pagerank_products", "graph_ppr", "graph_bfs", "graph_sssp",
    "graph_link_prediction", "graph_adamic_adar", "graph_triangles",
    "graph_clustering_coef", "graph_kcore",
)


def test_kernel_queries_match_oracles_at_twice_bench_shape(spark, tmp_path):
    """The benchmark's input generator at twice its shape (every row
    count doubled; orders per customer and the duplicate rate are
    rates and stay), seed 7. At this shape k-core's peeling has not
    converged after KCORE_ROUNDS, which the fixtures never show."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import gen
    import run

    shape = dataclasses.replace(
        run.SHAPE,
        **{
            f.name: 2 * getattr(run.SHAPE, f.name)
            for f in dataclasses.fields(run.SHAPE)
            if f.name not in ("orders_per_customer", "dup_rate")
        },
    )
    sf_dir = str(tmp_path / "x2")
    gen.generate(sf_dir, 7, shape)
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    bad = {}
    t0 = time.perf_counter()
    for name in KERNEL_QUERIES:
        out = compare(queries[name](spark, sf_dir), oracles[name], sf_dir)
        if not out["hash_match"]:
            bad[name] = out
    print(f"kernel differential at 2x: {time.perf_counter() - t0:.1f} s")
    assert not bad, bad
