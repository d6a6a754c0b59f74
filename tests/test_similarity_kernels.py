"""The shared neighbour-ranking kernel and recall harness.

`operators/similarity.py` ranks every per-query neighbour list through
one private kernel, `_topk`, and grades every approximate index through
one harness, `_recall`. These tests pin the kernel's contract on a
hand-built table of five vectors (self-pairs dropped, ties to the
smaller id, ascending distances, the `on` key confining the pairs), the
harness's zero-hit rows, and, structurally, that no other function
writes either mechanism again.
"""

from __future__ import annotations

import ast
from pathlib import Path

from big_data_instacart_market_basket_analysis_spark.operators import (
    similarity as sim,
)
from pyspark.sql import functions as F

#: vec_id -> (x, key). Query 0 sits at x=0: its distances are
#: 1:5, 2:3, 3:3, 4:9, and itself 0.
_ROWS = [(0, 0.0, 0), (1, 5.0, 0), (2, 3.0, 1), (3, 3.0, 0), (4, 9.0, 1)]


def _sides(spark):
    t = spark.createDataFrame(_ROWS, "vec_id long, x double, key int")
    queries = t.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("x").alias("qx"), "key"
    )
    corpus = t.select(
        F.col("vec_id").alias("neighbor_id"), F.col("x").alias("cx"), "key"
    )
    return queries, corpus


def _ranked(df) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for r in df.orderBy("query_id", "rank").collect():
        out.setdefault(r["query_id"], []).append(r["neighbor_id"])
    return out


def _dist():
    return F.abs(F.col("qx") - F.col("cx"))


def test_topk_drops_self_pairs_and_breaks_ties_by_id(spark):
    """Descending: query 0 ranks 4 (9) > 1 (5) > 2 = 3 (3), the tie to
    the smaller id; it never ranks itself."""
    queries, corpus = _sides(spark)
    got = sim._topk(queries, corpus, "d", _dist(), 4)
    assert got.columns == ["query_id", "neighbor_id", "rank", "d"]
    assert _ranked(got) == {0: [4, 1, 2, 3], 1: [0, 4, 2, 3]}
    assert [r["rank"] for r in got.filter("query_id = 0")
            .orderBy("rank").collect()] == [1, 2, 3, 4]


def test_topk_ascending_ranks_distances(spark):
    """Ascending: the self-pair (distance 0) would rank first if it
    were kept; k cuts each query's list."""
    queries, corpus = _sides(spark)
    got = sim._topk(queries, corpus, "d", _dist(), 3, ascending=True)
    assert _ranked(got) == {0: [2, 3, 1], 1: [2, 3, 4]}


def test_topk_on_key_confines_pairs(spark):
    """Queries 0 and 1 have key 0, shared with vectors 0, 1 and 3."""
    queries, corpus = _sides(spark)
    got = sim._topk(queries, corpus, "d", _dist(), 10, on="key",
                    ascending=True)
    assert _ranked(got) == {0: [3, 1], 1: [3, 0]}


def _emb(spark):
    vecs = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
            (3, [-1.0, 0.2]), (4, [0.5, 0.5])]
    return spark.createDataFrame(
        [(i, v, 0) for i, v in vecs],
        "vec_id long, embedding array<float>, label int",
    )


def test_recall_keeps_queries_without_hits(spark):
    """Five vectors: the truth holds every other vector for each of the
    five queries. Query 0's approx list has two true neighbours, query
    1's only an unknown id, and queries 2..4 none at all."""
    emb = _emb(spark)
    approx = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 2), (1, 99, 1)],
        "query_id long, neighbor_id long, rank int",
    )
    got = {r["query_id"]: (r["n_hits"], r["recall_at_k"])
           for r in sim._recall(emb, approx).collect()}
    k = sim.TOP_K
    assert got == {0: (2, round(2 / k, 4)), 1: (0, 0.0), 2: (0, 0.0),
                   3: (0, 0.0), 4: (0, 0.0)}


def _owners(match) -> list[str]:
    """Top-level definition in similarity.py enclosing each AST node
    that ``match``es."""
    tree = ast.parse(Path(sim.__file__).read_text())
    return sorted(
        getattr(top, "name", "<module>")
        for top in tree.body for node in ast.walk(top) if match(node)
    )


def _root_name(node) -> str | None:
    while isinstance(node, (ast.Call, ast.Attribute)):
        node = node.func if isinstance(node, ast.Call) else node.value
    return node.id if isinstance(node, ast.Name) else None


def _recall_join(node) -> bool:
    """``.join(..., ["query_id", "neighbor_id"], "leftsemi")``."""
    if not (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "join"):
        return False
    consts = {c.value for c in ast.walk(node)
              if isinstance(c, ast.Constant)}
    return {"query_id", "neighbor_id", "leftsemi"} <= consts


def _broadcast_queries(node) -> bool:
    """``F.broadcast(queries...)``."""
    return (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "broadcast"
            and bool(node.args) and _root_name(node.args[0]) == "queries")


#: functions that broadcast a query side but rank no neighbour list
#: through `_topk`: MMR, the RAG rankings and the graph-ANN beam rank
#: chunks, documents or frontiers; hard-negative mining and the kNN
#: classifier keep their own windows because the kernel would change
#: their plans (a renamed neighbour column, an added self-pair
#: predicate over disjoint query and corpus sets).
_OWN_RANKINGS = {
    "graph_ann_topk_plan", "hard_negatives", "knn_classifier_eval",
    "mmr_select", "rag_context_pack", "rag_rerank",
}


def test_one_topk_kernel_and_one_recall_harness():
    assert _owners(_recall_join) == ["_recall"]
    owners = set(_owners(_broadcast_queries))
    assert "_topk" in owners
    assert owners - {"_topk"} == _OWN_RANKINGS
