"""connected_components vs a reference union-find."""

import numpy as np
import pytest

from buzzard_spark.operators import graph
from buzzard_spark.operators.graph import connected_components


def _truth(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min member id per component
    comp = {}
    for i in range(n_nodes):
        comp.setdefault(find(i), []).append(i)
    return {i: min(members) for members in comp.values() for i in members}


def _labels(nodes, edges):
    """Collect the labeling; connected_components persists nothing."""
    rows = connected_components(nodes, edges).collect()
    assert not dict(nodes.sparkSession.sparkContext._jsc.getPersistentRDDs())
    return rows


def _run(spark, n_nodes, edges):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], 'node long')
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], 'id_a long, id_b long')
    got = {r['node']: r['comp'] for r in _labels(nodes, pairs)}
    assert got == _truth(n_nodes, edges)


def test_cc_random_graphs(spark):
    rng = np.random.RandomState(7)
    for trial in range(3):
        n = 200
        m = [30, 150, 400][trial]
        edges = [(int(rng.randint(n)), int(rng.randint(n))) for _ in range(m)]
        _run(spark, n, edges)


def test_cc_long_chain(spark):
    """A path of 300 nodes: one component spanning the whole id range."""
    n = 300
    edges = [(i, i + 1) for i in range(n - 1)]
    _run(spark, n, edges)


def test_cc_isolated_and_self_loops(spark):
    _run(spark, 10, [(0, 0), (3, 4), (4, 3), (9, 9)])


def test_cc_empty_edges(spark):
    _run(spark, 5, [])


def test_cc_star_and_cliques(spark):
    edges = [(0, i) for i in range(1, 50)]                  # hub
    edges += [(a, b) for a in range(60, 70) for b in range(a + 1, 70)]
    _run(spark, 80, edges)


def test_cc_above_max_edges_raises(spark, monkeypatch):
    """More than MAX_EDGES distinct edges raise instead of pulling the
    graph through the driver; duplicates and self-loops do not count."""
    monkeypatch.setattr(graph, 'MAX_EDGES', 3)
    nodes = spark.createDataFrame([(i,) for i in range(6)], 'node long')
    at_cap = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 3), (4, 4)], 'id_a long, id_b long')
    got = {r['node']: r['comp'] for r in _labels(nodes, at_cap)}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5}
    over = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5)], 'id_a long, id_b long')
    with pytest.raises(ValueError, match='MAX_EDGES'):
        connected_components(nodes, over)
