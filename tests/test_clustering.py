"""DBSCAN unit tests: engineered fixture where every role appears and
labels are knowable by hand (oracle parity at fixture scale is covered
by test_oracle_queries / the driver gate)."""

from __future__ import annotations

import datetime as dt

from big_data_instacart_market_basket_analysis_spark.operators import (
    clustering,
)


def _events(spark, spec):
    """spec: list of (user_id, n_events, value). All events for a user
    land on one day, so each user yields one (x=value, y=n) point."""
    rows = []
    eid = 0
    for uid, n, value in spec:
        for i in range(n):
            rows.append(
                (
                    eid,
                    dt.datetime(2026, 1, 5, 8 + (i % 10)),
                    uid,
                    "click",
                    float(value),
                    "{}",
                )
            )
            eid += 1
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def test_dbscan_roles_and_labels(spark):
    """w=2 cores at (10,2),(10,3) form one cluster labeled by the min
    key; (10,4) w=1 touches a core but its closed neighborhood is 3 <
    MIN_PTS -> border; (15,15) is noise."""
    df = _events(
        spark,
        [
            (1, 2, 10),
            (2, 2, 10),
            (3, 3, 10),
            (4, 3, 10),
            (5, 4, 10),
            (6, 15, 15),
        ],
    )
    got = {
        (r["x"], r["y"]): (r["role"], r["cluster_id"], r["w"])
        for r in clustering.dbscan_clusters(df).collect()
    }
    key = 10 * 1000 + 2
    assert got == {
        (10, 2): ("core", key, 2),
        (10, 3): ("core", key, 2),
        (10, 4): ("border", key, 1),
        (15, 15): ("noise", -1, 1),
    }


def test_dbscan_diagonal_not_adjacent(spark):
    """eps=1 squared test: diagonal neighbors (dist^2=2) must NOT link;
    two diagonal w=4 cores stay separate clusters."""
    df = _events(spark, [(u, 2, 10) for u in (1, 2, 3, 4)]
                 + [(u, 3, 11) for u in (5, 6, 7, 8)])
    got = {
        (r["x"], r["y"]): (r["role"], r["cluster_id"])
        for r in clustering.dbscan_clusters(df).collect()
    }
    assert got[(10, 2)] == ("core", 10 * 1000 + 2)
    assert got[(11, 3)] == ("core", 11 * 1000 + 3)


def test_star_fixpoint_round_cap_raises(spark, monkeypatch):
    """Both connected-component callers share one star-contraction
    loop and its round cap: a 5-node chain is not a star, so one round
    cannot reach the fixpoint and each caller raises its own error."""
    import pytest

    from big_data_instacart_market_basket_analysis_spark.operators import (
        dedup,
    )

    monkeypatch.setattr(dedup, "MAX_CC_ROUNDS", 1)
    docs = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "d1 long, d2 long"
    )
    with pytest.raises(RuntimeError, match="connected_clusters did not"
                       " converge in 1 rounds"):
        dedup.connected_clusters(docs, pairs=pairs)
    # five points (10, 2..6), weight 2 each: every closed neighborhood
    # weighs >= 4, so all are core and the core graph is a chain
    chain = _events(spark, [(u, 2 + u // 2, 10) for u in range(10)])
    with pytest.raises(RuntimeError, match="dbscan_clusters CC did not"
                       " converge in 1 rounds"):
        clustering.dbscan_clusters(chain)
    monkeypatch.setattr(dedup, "MAX_CC_ROUNDS", 20)
    got = {r["key"]: r["cluster_id"]
           for r in clustering._core_labels(chain).collect()}
    assert got == {10000 + y: 10002 for y in range(2, 7)}
