"""kernels.raster.union_find vs a reference union-find."""

import numpy as np

from buzzard_spark.kernels.raster import union_find


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


def _run(n_nodes, edges):
    """union_find labels exactly the nodes of a pair, each with the min
    id of its component."""
    truth = _truth(n_nodes, edges)
    linked = {n for pair in edges for n in pair}
    assert union_find(edges) == {n: truth[n] for n in linked}


def test_union_find_random_graphs():
    rng = np.random.RandomState(7)
    for trial in range(3):
        n = 200
        m = [30, 150, 400][trial]
        edges = [(int(rng.randint(n)), int(rng.randint(n))) for _ in range(m)]
        _run(n, edges)


def test_union_find_long_chain():
    """A path of 300 nodes: one component spanning the whole id range."""
    n = 300
    edges = [(i, i + 1) for i in range(n - 1)]
    _run(n, edges)


def test_union_find_isolated_and_self_loops():
    _run(10, [(0, 0), (3, 4), (4, 3), (9, 9)])


def test_union_find_empty():
    _run(5, [])


def test_union_find_star_and_cliques():
    edges = [(0, i) for i in range(1, 50)]                  # hub
    edges += [(a, b) for a in range(60, 70) for b in range(a + 1, 70)]
    _run(80, edges)
