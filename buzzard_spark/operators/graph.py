"""Connected components on the driver, for graphs of up to ``MAX_EDGES``
edges.

The deduplicated edge set is fetched in one bounded Spark job and resolved
with an in-memory union-find; the labels return as a broadcast local
relation joined to the node set. An edge set above the cap raises instead
of pulling an unbounded graph through the driver.

Used by ``raster_ops.polygonize`` (border-run adjacency of tile masks)
and ``raster_ops.vectorize_lines`` (line-fragment chains across tiles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from buzzard_spark.session import local_frame

# largest deduplicated edge set resolved on the driver (~3 MB of pairs)
MAX_EDGES = 200_000


def union_find(pairs) -> dict:
    """In-memory union-find over (a, b) pairs → {node: root} for every
    node of a pair. Union-by-min with path compression: each root is its
    set's min id."""
    parent: dict = {}

    def find(a):
        root = a
        while parent[root] != root:
            root = parent[root]
        while parent[a] != root:
            parent[a], a = root, parent[a]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def connected_components(nodes: DataFrame, edges: DataFrame,
                         id_col: str = 'node') -> DataFrame:
    """nodes: one row per node (isolated nodes allowed). edges: undirected
    (id_a, id_b). Returns (id_col, comp) with comp = min node id of the
    component. Persists nothing.

    One job fetches at most ``MAX_EDGES + 1`` deduplicated edges; more
    than ``MAX_EDGES`` raises ``ValueError``."""
    rows = (edges
            .where(F.col('id_a') != F.col('id_b'))
            .select(F.greatest('id_a', 'id_b').alias('u'),
                    F.least('id_a', 'id_b').alias('v'))
            .distinct().limit(MAX_EDGES + 1).collect())
    if len(rows) > MAX_EDGES:
        raise ValueError(
            f'connected_components resolves at most graph.MAX_EDGES = '
            f'{MAX_EDGES} distinct edges on the driver; got more')
    labels = list(union_find((r['u'], r['v']) for r in rows).items())
    roots = local_frame(nodes.sparkSession, labels, 'u long, comp long')
    return (nodes.select(F.col(id_col).alias('u'))
            .join(F.broadcast(roots), 'u', 'left')
            .select(F.col('u').alias(id_col),
                    F.coalesce('comp', 'u').alias('comp')))
