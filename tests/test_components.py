"""Connected-components (pairs -> dedup clusters): hash-min propagation vs
a single-process BFS oracle, chain worst case, and the convergence guard."""

import random

import pytest

from apollo_service_spark.operators.components import connected_components

# the operator's per-round local checkpoints are released after each test
pytestmark = pytest.mark.usefixtures("checkpoints")


def _pairs_df(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def _bfs_components(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for start in adj:
        if start in out:
            continue
        seen = {start}
        stack = [start]
        while stack:
            v = stack.pop()
            for w in adj[v] - seen:
                seen.add(w)
                stack.append(w)
        label = min(seen)
        for v in seen:
            out[v] = label
    return out


def test_components_match_bfs_on_random_graph(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]
    got = {
        r["id"]: r["component"]
        for r in connected_components(_pairs_df(spark, edges)).collect()
    }
    assert got == _bfs_components(edges)


def test_components_chain_needs_many_rounds(spark):
    """A 25-node path is the diameter worst case for hash-min — the label
    must walk the whole chain, exercising the multi-round loop, lineage
    truncation, and convergence detection."""
    edges = [(i, i + 1) for i in range(24)]
    got = {
        r["id"]: r["component"]
        for r in connected_components(_pairs_df(spark, edges)).collect()
    }
    assert got == {i: 0 for i in range(25)}


def test_components_disjoint_cliques(spark):
    cliq = lambda ids: [(a, b) for a in ids for b in ids if a < b]
    edges = cliq([1, 2, 3, 4]) + cliq([10, 11, 12])
    comp = connected_components(_pairs_df(spark, edges))
    got = {r["id"]: r["component"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_components_nonconvergence_raises(spark):
    edges = [(i, i + 1) for i in range(10)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_pairs_df(spark, edges), max_iterations=2)
