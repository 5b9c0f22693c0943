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
    # per-file lineage: row counts and checksums recorded
    assert all(f['rows'] >= 1 and f['md5'] for f in m['files'])
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


def test_empty_append_reads_back_empty(spark, tmp_path):
    """A snapshot whose append wrote an empty DataFrame reads back as an
    empty DataFrame with the appended schema."""
    table = SnapshotTable(str(tmp_path / 'empty_tbl'))
    table.append(spark.createDataFrame([], 'k long, v string'))
    out = table.read(spark)
    assert out.count() == 0
    assert out.schema.simpleString() == 'struct<k:bigint,v:string>'


def _jobs_in(spark, group, run):
    """run() under job group ``group``; the ids of the Spark jobs it
    started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty('spark.jobGroup.id', None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize('dedupe_keys', [None, ['k']],
                         ids=['plain', 'dedupe'])
def test_read_starts_no_job(spark, tmp_path, dedupe_keys):
    """Each scan of ``read`` carries its manifest's recorded schema, so
    reading a 3-snapshot table starts no Spark job (a schema-inferring
    scan starts one), and returns the rows of a schema-inferring read."""
    from pyspark.sql import functions as F

    root = str(tmp_path / 'tbl')
    table = SnapshotTable(root)
    for snap in range(3):
        table.append(spark.range(5).select(
            F.col('id').alias('k'), (F.col('id') * 10 + snap).alias('v')))
    dirs = [os.path.join(root, m['data_dir']) for m in table.manifests()]
    _, inferred_jobs = _jobs_in(spark, f'infer-{dedupe_keys}',
                                lambda: spark.read.parquet(dirs[0]))
    assert inferred_jobs
    out, jobs = _jobs_in(spark, f'read-{dedupe_keys}',
                         lambda: table.read(spark, dedupe_keys=dedupe_keys))
    assert jobs == []
    got = sorted(tuple(r) for r in out.collect())
    if dedupe_keys is None:
        want = sorted(tuple(r) for r in spark.read.parquet(*dirs).collect())
        assert len(want) == 15
    else:
        want = [(k, k * 10 + 2) for k in range(5)]
    assert got == want


def test_resume_keys_sidecar_scales_off_driver(spark, tmp_path):
    """Resume keys live in an executor-written parquet sidecar: a key
    count that would be driver-unfriendly as manifest JSON (120k)
    round-trips through append -> pending as a distributed
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


def test_append_refuses_schema_change(spark, tmp_path):
    """An append whose field names or types differ from the table's
    recorded schema raises before writing anything; nullability alone
    does not count as a change."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    table = SnapshotTable(str(tmp_path / 'schema_tbl'))
    table.append(spark.createDataFrame([(1, 'a')], 'k long, v string'))
    for ddl in ('k long, v string, score double', 'k long',
                'k int, v string', 'k long, w string'):
        with pytest.raises(ValueError, match='schema'):
            table.append(spark.createDataFrame([], ddl))
    assert table.current_snapshot_id() == 1

    strict = StructType([StructField('k', LongType(), False),
                         StructField('v', StringType(), False)])
    table.append(spark.createDataFrame([(2, 'b')], strict))
    assert sorted(r['k'] for r in table.read(spark).collect()) == [1, 2]
