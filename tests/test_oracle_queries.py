"""Every operator query in tests/oracle_queries.py, run on Spark over the
sf0.01 testdata and compared with its DuckDB oracle, one case per query.

Each case also checks the cache-lifetime contract: operators that persist()
intermediates for multi-scan reuse fetch their result, release the
intermediates (session.release_blocks) and return a local relation, so a
long-lived session never accumulates cached partitions.
"""

import os
from collections import Counter
from itertools import islice

import pytest

from tests import oracle_queries

SF_DIR = '/root/testdata/sf0.01'  # TESTDATA.md
TABLES = ('documents',)
ORACLES = oracle_queries.oracle_sql()

pytestmark = pytest.mark.skipif(not os.path.isdir(SF_DIR),
                                reason='oracle testdata absent')


@pytest.fixture(scope='module')
def duck():
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _normalize(rows, cols):
    """Order-insensitive row strings: columns sorted by name, floats
    printed as %.12g so both engines' last-ulp rounding compares equal."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        '|'.join(f'{row[i]:.12g}' if isinstance(row[i], float)
                 else str(row[i]) for i in order)
        for row in rows)


def _first_diffs(got, want, n=5):
    """The first ``n`` rows only Spark returned, then only the oracle."""
    only_got = (Counter(got) - Counter(want)).elements()
    only_want = (Counter(want) - Counter(got)).elements()
    return '\n'.join([f'  spark : {r}' for r in islice(only_got, n)] +
                     [f'  oracle: {r}' for r in islice(only_want, n)])


def test_every_query_has_an_oracle():
    assert oracle_queries.queries().keys() == ORACLES.keys()


@pytest.mark.parametrize('name', list(oracle_queries.queries()))
def test_query_matches_oracle(spark, duck, name):
    sdf = oracle_queries.queries()[name](spark, SF_DIR)
    srows, scols = sdf.collect(), sdf.columns
    leaked = [str(v.toString())[:80] for v in
              dict(spark.sparkContext._jsc.getPersistentRDDs()).values()]
    if leaked:
        spark.catalog.clearCache()  # the next case starts clean

    orel = duck.sql(ORACLES[name])
    orows, ocols = orel.fetchall(), [d[0] for d in orel.description]
    assert sorted(scols) == sorted(ocols)
    got, want = _normalize(srows, scols), _normalize(orows, ocols)
    assert got == want, (
        f'{name}: {len(got)} spark rows vs {len(want)} oracle rows; '
        f'first differing rows:\n{_first_diffs(got, want)}')
    assert not leaked, f'{name} left persisted RDDs: {leaked}'
