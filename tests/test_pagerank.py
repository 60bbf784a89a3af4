"""PageRank operator semantics (operators/pagerank.py)."""

import pytest
from pyspark.sql import functions as F

from apollo_service_spark.operators.pagerank import pagerank

# the operator's per-round local checkpoints are released after each test
pytestmark = pytest.mark.usefixtures("checkpoints")


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


def test_one_round_hand_computed(spark):
    """1->2, 2->{1,3}, 3 dangling, N=3, d=0.85, one round:
    r(1)=0.05+0.85*(1/6), r(2)=0.05+0.85*(1/3), r(3)=0.05+0.85*(1/6)."""
    edges = _edges(spark, [(1, 2), (2, 1), (2, 3)])
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    got = {
        r["id"]: r["rank"]
        for r in pagerank(edges, nodes=nodes, iterations=1).collect()
    }
    assert got[1] == pytest.approx(0.05 + 0.85 / 6, abs=1e-12)
    assert got[2] == pytest.approx(0.05 + 0.85 / 3, abs=1e-12)
    assert got[3] == pytest.approx(0.05 + 0.85 / 6, abs=1e-12)
    # dangling node 3 leaks its mass: total < 1 (documented simplified variant)
    assert sum(got.values()) < 1.0


def test_isolated_node_gets_teleport_only(spark):
    edges = _edges(spark, [(1, 2), (2, 1)])
    nodes = spark.createDataFrame([(1,), (2,), (9,)], "id long")
    got = {
        r["id"]: r["rank"]
        for r in pagerank(edges, nodes=nodes, iterations=3).collect()
    }
    assert got[9] == pytest.approx((1 - 0.85) / 3, abs=1e-12)


def test_no_danglers_mass_conserved_and_symmetric(spark):
    """A 4-cycle is rank-regular: every node ends at exactly 1/N and the
    total mass stays 1 for any iteration count."""
    edges = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    got = [r["rank"] for r in pagerank(edges, iterations=4).collect()]
    assert len(got) == 4
    for r in got:
        assert r == pytest.approx(0.25, abs=1e-12)
