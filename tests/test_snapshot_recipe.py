"""Snapshot table + cached recipe semantics (the reference's cache
contract: laziness, persistence, corruption recovery —
buzzard/test/test_cached_raster_recipe.py analogues)."""

import glob
import os

import numpy as np
import pytest

from buzzard_spark import Footprint
from buzzard_spark.operators.recipe import assemble, cached_tile_compute
from buzzard_spark.sources.snapshot_table import SnapshotTable


def _ramp(tile_fp):
    """Deterministic value = x + y meshgrid ramp (reference test oracle,
    buzzard/test/tools.py:165-167)."""
    xs, ys = tile_fp.meshgrid_spatial
    return (xs + ys).astype('float32')


@pytest.fixture()
def fp():
    return Footprint(tl=(0, 10), size=(10, 10), rsize=(100, 100))


def _oracle(fp):
    xs, ys = fp.meshgrid_spatial
    return (xs + ys).astype('float32')


def test_compute_resume_and_corruption(spark, fp, tmp_path):
    root = str(tmp_path / 'cache')

    # cold: everything computed
    df, n1 = cached_tile_compute(spark, fp, 30, _ramp, root)
    assert n1 == 16  # ceil(100/30)^2
    rows = df.collect()
    out = assemble(rows, fp)
    assert np.array_equal(out, _oracle(fp))

    # warm: nothing recomputed ("pixels never computed twice")
    df2, n2 = cached_tile_compute(spark, fp, 30, _ramp, root)
    assert n2 == 0
    assert np.array_equal(assemble(df2.collect(), fp), _oracle(fp))

    # corruption: truncate one data file -> its snapshot invalidated,
    # its tiles recomputed, values identical again
    files = sorted(glob.glob(os.path.join(root, 'data', '*', '*.parquet')))
    with open(files[0], 'ab') as f:
        f.write(b'garbage')
    df3, n3 = cached_tile_compute(spark, fp, 30, _ramp, root)
    assert n3 > 0
    assert np.array_equal(assemble(df3.collect(), fp), _oracle(fp))

    # the repaired table is warm again
    _, n4 = cached_tile_compute(spark, fp, 30, _ramp, root)
    assert n4 == 0

    # SAME-SIZE corruption (flipped byte): only the md5 catches it —
    # reference checksum semantics (buzzard/_cached_raster_recipe.py:146-166).
    # Target a file of the CURRENT valid lineage (earlier corruption left a
    # dead snapshot dir on disk whose files are already out of play).
    table = SnapshotTable(root)
    files = sorted(os.path.join(root, fi['path'])
                   for m in table._valid_manifests() for fi in m['files'])
    with open(files[0], 'r+b') as f:
        f.seek(100)
        byte = f.read(1)
        f.seek(100)
        f.write(bytes([byte[0] ^ 0xFF]))
    df5, n5 = cached_tile_compute(spark, fp, 30, _ramp, root)
    assert n5 > 0
    assert np.array_equal(assemble(df5.collect(), fp), _oracle(fp))
    _, n6 = cached_tile_compute(spark, fp, 30, _ramp, root)
    assert n6 == 0


def test_concurrent_append_claims_unique_snapshots(spark, fp, tmp_path):
    """Two writers committing 'simultaneously' (same parent view) must not
    clobber each other: O_EXCL manifest claims serialize the ids and both
    snapshots survive in the lineage."""
    root = str(tmp_path / 'cache_cas')
    t1 = SnapshotTable(root)
    t2 = SnapshotTable(root)
    df_a = spark.range(3).selectExpr('id AS k', 'id * 10 AS v')
    df_b = spark.range(3, 5).selectExpr('id AS k', 'id * 10 AS v')
    # both see parent=None; t1 commits first, t2's claim of snap-1 must
    # fail and advance to snap-2 chained onto t1
    m1 = t1.append(df_a, key_cols=['k'])
    # simulate t2 having read parent before t1's commit: append() re-reads
    # parent at call time, so force the race by pre-claiming is already
    # covered — here we just verify the second commit chains, not replaces
    m2 = t2.append(df_b, key_cols=['k'])
    assert m1['snapshot_id'] == 1 and m2['snapshot_id'] == 2
    assert m2['parent'] == 1
    assert t1.current_snapshot_id() == 2
    got = sorted(r['k'] for r in t1.read(spark).collect())
    assert got == [0, 1, 2, 3, 4]
    # distinct data dirs (writer-unique tokens)
    assert m1['data_dir'] != m2['data_dir']


def test_manifest_lineage_and_metrics(spark, fp, tmp_path):
    root = str(tmp_path / 'cache2')
    cached_tile_compute(spark, fp, 50, _ramp, root)
    table = SnapshotTable(root)
    manifests = table.manifests()
    assert len(manifests) == 1
    m = manifests[0]
    assert m['rows'] == 4
    assert m['metrics']['rows'] == 4
    assert m['metrics']['bytes'] > 0
    assert m['bytes'] == sum(f['bytes'] for f in m['files'])
    # per-file lineage: row counts and column min/max recorded
    assert all(f['rows'] >= 1 for f in m['files'])
    stats = {}
    for f in m['files']:
        for col, (mn, mx) in f['column_minmax'].items():
            lo, hi = stats.get(col, (mn, mx))
            stats[col] = (min(lo, mn), max(hi, mx))
    assert stats['tile_y'] == (0, 1) and stats['tile_x'] == (0, 1)
    # keys recorded for resume — in a parquet sidecar, never the manifest
    assert m['keys_path'] and 'keys' not in m
    import duckdb
    import os as _os
    kd = _os.path.join(root, m['keys_path'])
    got = duckdb.sql(
        f"SELECT tile_y, tile_x FROM read_parquet('{kd}/*.parquet') "
        'ORDER BY 1, 2').fetchall()
    assert got == [(0, 0), (0, 1), (1, 0), (1, 1)]


def test_atomic_current_pointer(spark, fp, tmp_path):
    root = str(tmp_path / 'cache3')
    cached_tile_compute(spark, fp, 50, _ramp, root)
    table = SnapshotTable(root)
    assert table.current_snapshot_id() == 1
    # appending again bumps the snapshot and links the parent
    df, _ = cached_tile_compute(spark, fp, 50, _ramp, root)  # warm, no-op
    assert table.current_snapshot_id() == 1


def test_time_travel_and_minmax_file_skipping(spark, tmp_path):
    """as_of reads the table frozen at a snapshot id; minmax_filter prunes
    whole data files from the manifest stats without touching parquet."""
    from pyspark.sql import functions as F

    root = str(tmp_path / 'tt')
    table = SnapshotTable(root)
    for lo in (0, 100, 200):  # 3 snapshots with disjoint key ranges
        df = spark.range(lo, lo + 100).select(
            F.col('id').alias('k'), (F.col('id') * 2).alias('v'))
        table.append(df.coalesce(1))

    # time travel: snapshot 2 sees the first two appends only
    assert table.read(spark).count() == 300
    as_of2 = table.read(spark, as_of=2)
    assert as_of2.count() == 200
    assert as_of2.agg(F.max('k')).first()[0] == 199
    assert table.read(spark, as_of=1).count() == 100
    with pytest.raises(FileNotFoundError):
        table.read(spark, as_of=0)

    # manifest min/max skipping: k in [150, 160] intersects only the
    # middle snapshot's file — exactly one parquet file is scanned
    pruned = table.read(spark, minmax_filter={'k': (150, 160)})
    assert len(pruned.inputFiles()) == 1
    assert pruned.where('k BETWEEN 150 AND 160').count() == 11

    # a range outside every file prunes everything but keeps the schema
    empty = table.read(spark, minmax_filter={'k': (9000, 9999)})
    assert empty.count() == 0
    assert empty.columns == ['k', 'v']

    # refusal: pruning cannot combine with latest-wins dedup
    with pytest.raises(ValueError):
        table.read(spark, dedupe_keys=['k'], minmax_filter={'k': (0, 1)})


def test_minmax_filter_empty_append_prune_everything(spark, tmp_path):
    """A snapshot whose append wrote an empty DataFrame records zero data
    files; a prune-everything minmax_filter read must still return an
    empty schema-preserving DataFrame, not IndexError (ADVICE r3)."""
    from buzzard_spark.sources.snapshot_table import SnapshotTable

    table = SnapshotTable(str(tmp_path / 'empty_tbl'))
    empty = spark.createDataFrame([], 'k long, v string')
    table.append(empty)
    out = table.read(spark, minmax_filter={'k': (0, 10)})
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ['k', 'v']


def test_resume_keys_sidecar_scales_off_driver(spark, tmp_path):
    """Resume keys live in an executor-written parquet sidecar (VERDICT r3
    #5): a key count that would be driver-unfriendly as manifest JSON
    (120k) round-trips through append -> pending as a distributed
    anti-join; the manifest itself stays tiny and holds no key rows."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F
    from buzzard_spark.sources.snapshot_table import SnapshotTable

    root = str(tmp_path / 'bigkeys')
    table = SnapshotTable(root)
    n = 120_000
    done = spark.range(n).select(
        F.col('id').alias('tile_y'), (F.col('id') * 2).alias('tile_x'),
        F.lit(1).alias('v'))
    manifest = table.append(done, key_cols=['tile_y', 'tile_x'])
    assert manifest['keys_path'] and 'keys' not in manifest
    raw = _json.load(open(_os.path.join(
        root, '_manifest', f"snap-{manifest['snapshot_id']}.json")))
    assert len(_json.dumps(raw)) < 100_000  # no embedded key list

    todo = spark.range(n + 500).select(
        F.col('id').alias('tile_y'), (F.col('id') * 2).alias('tile_x'))
    pend = table.pending(todo, ['tile_y', 'tile_x'])
    assert pend.count() == 500
    assert pend.agg(F.min('tile_y')).collect()[0][0] == n

    # a keyed snapshot whose sidecar vanishes is dropped from the lineage
    # (work redone, never duplicated)
    import shutil
    shutil.rmtree(_os.path.join(root, manifest['keys_path']))
    assert table.pending(todo, ['tile_y', 'tile_x']).count() == n + 500


def test_schema_evolution_read(spark, tmp_path):
    """A later append may ADD a column: reads surface it as NULL for
    pre-evolution rows (mergeSchema), in both the plain and the
    dedupe_keys read paths."""
    import pyspark.sql.functions as F

    root = str(tmp_path / 'evolve_tbl')
    table = SnapshotTable(root)
    table.append(spark.createDataFrame([(1, 'a')], 'k long, v string'))
    table.append(spark.createDataFrame(
        [(2, 'b', 9.5)], 'k long, v string, score double'))

    rows = {r['k']: (r['v'], r['score'])
            for r in table.read(spark).collect()}
    assert rows == {1: ('a', None), 2: ('b', 9.5)}

    rows2 = {r['k']: (r['v'], r['score'])
             for r in table.read(spark, dedupe_keys=['k']).collect()}
    assert rows2 == rows
