"""connected_components (large-star/small-star) vs a reference union-find."""

import numpy as np

from buzzard_spark.operators.graph import connected_components
from buzzard_spark.session import release_blocks


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


def _labels(nodes, edges, **kwargs):
    """Collect the labeling, then release the round blocks: the result
    reads them, so the release must come after the collect."""
    registry: list = []
    rows = connected_components(nodes, edges, registry, **kwargs).collect()
    release_blocks(registry)
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
    """A path of 300 nodes — the worst case for plain min-propagation
    (O(diameter) rounds); the star algorithm must converge in O(log²)."""
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


def test_cc_small_graph_fastpath_equals_star_rounds(spark):
    """connected_components' bounded driver union-find (small graphs) must
    emit the identical min-member labeling as the distributed star rounds
    on the same graph."""
    rng = np.random.RandomState(7)
    n = 300
    edges = [(int(a), int(b)) for a, b in rng.randint(0, n, (400, 2))]
    nodes_df = spark.createDataFrame([(i,) for i in range(n)], 'node long')
    edges_df = spark.createDataFrame(edges, 'id_a long, id_b long')
    fast = {(r['node'], r['comp']) for r in _labels(nodes_df, edges_df)}
    star = {(r['node'], r['comp'])
            for r in _labels(nodes_df, edges_df, small_graph_edges=0)}
    assert fast == star
    assert len(fast) == n
