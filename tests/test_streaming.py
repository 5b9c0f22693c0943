"""Structured Streaming conformance: the stateless spatial operators run
unchanged on a streaming DataFrame, and their streaming results equal the
batch results on the same input."""

from buzzard_spark import synth
from buzzard_spark.operators.spatial_join import assign_cell, pip_join_rect


def _run_stream(df, tmp_path):
    sink = f'mem_{abs(hash(str(tmp_path))) % 10**9}'
    q = (df.writeStream.format('memory').queryName(sink)
         .outputMode('append')
         .option('checkpointLocation', str(tmp_path / 'ckpt'))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)
    return sink


def test_stream_cell_assign_matches_batch(spark, tmp_path):
    pages_dir = str(tmp_path / 'pages')
    synth.synthetic_pages(spark, 1000).write.parquet(pages_dir)
    schema = spark.read.parquet(pages_dir).schema
    stream = (spark.readStream.schema(schema).parquet(pages_dir))
    assigned = assign_cell(stream, 9)
    sink = _run_stream(assigned.select('page_id', 'cell'), tmp_path)
    got = {r['page_id']: r['cell']
           for r in spark.sql(f'SELECT * FROM {sink}').collect()}
    truth = {r['page_id']: r['cell']
             for r in assign_cell(spark.read.parquet(pages_dir), 9)
             .select('page_id', 'cell').collect()}
    assert got == truth


def test_stream_pip_join_matches_batch(spark, tmp_path):
    """Streaming geofence (stream pages × static regions) emits exactly
    the batch PIP join's pairs — stateless stream-static join, NULL
    coords emit nothing."""
    pages_dir = str(tmp_path / 'pip_pages')
    synth.synthetic_pages(spark, 800).write.parquet(pages_dir)
    regions = synth.regions(spark, 40)
    schema = spark.read.parquet(pages_dir).schema
    stream = spark.readStream.schema(schema).parquet(pages_dir)
    joined = pip_join_rect(stream, regions, 4).select('page_id', 'region_id')
    sink = _run_stream(joined, tmp_path)
    got = {(r['page_id'], r['region_id'])
           for r in spark.sql(f'SELECT * FROM {sink}').collect()}
    truth = {(r['page_id'], r['region_id'])
             for r in pip_join_rect(spark.read.parquet(pages_dir),
                                    regions, 4)
             .select('page_id', 'region_id').collect()}
    assert got == truth and truth

