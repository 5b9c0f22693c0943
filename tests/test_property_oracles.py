"""Hypothesis properties over the round-5 DuckDB oracle builders,
checked against independent pure-python references (no Spark session —
each example is one DuckDB query).

The driver gate proves engine == oracle; these prove oracle == an
independent third implementation, closing the triangle: a bug shared by
the Spark plan and its SQL twin cannot hide behind their agreement.
"""

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from buzzard_spark.operators.spatial_join import (
    compact_cells_oracle_sql, dbscan_oracle_sql)


def _con():
    return duckdb.connect()


cellset = st.lists(st.integers(min_value=0, max_value=8 * 8 * 4 * 8 - 1),
                   min_size=1, max_size=120, unique=True)


@settings(max_examples=60, deadline=None)
@given(cs=cellset)
def test_compact_oracle_roundtrip_property(cs):
    """compact(cells) always uncompacts back to EXACTLY the input set,
    levels partition it, and output size <= input size."""
    from buzzard_spark.kernels import cells as kc
    res = 3
    cte = ' UNION ALL '.join(f'SELECT {c} AS cell' for c in cs)
    got = _con().execute(compact_cells_oracle_sql(cte, res, 0)).fetchall()
    assert len(got) <= len(cs)
    back = []
    for r, c in got:
        back += [int(x) for x in kc.children(c, r, res)]
    assert sorted(back) == sorted(cs)


pts = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)),
    min_size=2, max_size=40, unique=True)


@settings(max_examples=40, deadline=None)
@given(p=pts, eps=st.integers(1, 8), mp=st.integers(2, 5))
def test_dbscan_oracle_equals_python_reference(p, eps, mp):
    """DBSCAN oracle == pure-python DBSCAN with min-label border vote."""
    rows = list(enumerate(p))
    cte = ' UNION ALL '.join(
        f'SELECT {i} AS page_id, CAST({x} AS DOUBLE) AS lat, '
        f'CAST({y} AS DOUBLE) AS lng' for i, (x, y) in rows)
    got = {r[0]: (r[1], r[2]) for r in _con().execute(
        dbscan_oracle_sql(cte, float(eps), mp)).fetchall()}

    nbrs = {i: {j for j, q in rows if j != i and
                (q[0] - pt[0]) ** 2 + (q[1] - pt[1]) ** 2 <= eps * eps}
            for i, pt in rows}
    core = {i for i, _ in rows if len(nbrs[i]) + 1 >= mp}
    lab = {i: i for i in core}
    for _ in rows:
        for a in core:
            for b in nbrs[a]:
                if b in core and lab[b] < lab[a]:
                    lab[a] = lab[b]
    want = {}
    for i, _ in rows:
        if i in core:
            want[i] = (lab[i], 'core')
        else:
            cl = [lab[c] for c in nbrs[i] if c in core]
            want[i] = (min(cl), 'border') if cl else (-1, 'noise')
    assert got == want
