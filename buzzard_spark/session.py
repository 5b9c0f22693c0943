"""SparkSession factory with the engine's scale defaults.

These settings are the Spark-side counterpart of the reference's baked-in
dataflow optimizations (SURVEY.md §4): AQE replaces the actor scheduler's
runtime adaptivity, skew-join splitting replaces nothing the reference had
(single machine), Arrow makes the pandas-UDF tile kernels batch-columnar.

It also holds the one way a result leaves an operator: :func:`fetch` the
rows to the driver under a module cap, :func:`release_blocks` whatever the
operator persisted, return a :func:`local_frame`. No operator writes a
reliable checkpoint or sets a checkpoint dir.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONFS = {
    'spark.sql.adaptive.enabled': 'true',
    'spark.sql.adaptive.coalescePartitions.enabled': 'true',
    'spark.sql.adaptive.skewJoin.enabled': 'true',
    'spark.sql.execution.arrow.pyspark.enabled': 'true',
    'spark.sql.execution.arrow.maxRecordsPerBatch': '65536',
    # parquet scans: let min/max pruning see the bbox/cell columns
    'spark.sql.parquet.filterPushdown': 'true',
    'spark.sql.parquet.aggregatePushdown': 'true',
    # deterministic timestamps across engines
    'spark.sql.session.timeZone': 'UTC',
    'spark.ui.enabled': 'false',
    # local mode: shuffle files live in page cache — compression is pure
    # CPU overhead here (re-enable on a real cluster with slow disks/net)
    'spark.shuffle.compress': 'false',
    # codegen hash aggregation: the first-level "fast" row map defaults to
    # 2^16 slots; per-task group cardinality in the engine's aggregations
    # (per-(region, tile) counts: ~3·10^5 groups per scan task on a
    # crawl-ordered layout) overflows it and nearly every probe falls
    # through to the slow BytesToBytesMap. 2^20 slots keeps those maps on
    # the fast path (measured: flagship agg −20% on both clustered and
    # crawl-order layouts at 128M rows; ~16 MB per in-flight task, well
    # inside executor memory at any scale).
    'spark.sql.codegen.aggregate.fastHashMap.capacityBit': '20',
    # Python workers fork from the engine's daemon (pydaemon.py): on
    # Python < 3.12 PySpark's per-task importlib.invalidate_caches() made
    # every worker re-read the spark-core jar and pyspark.zip directories
    # (measured 140-440 ms per task on a 4-vCPU host, on the critical path
    # of every pandas-UDF stage); the daemon re-reads an archive only when
    # its stat stamp changed. Workers must be able to import buzzard_spark
    # (as every engine UDF already requires).
    'spark.python.daemon.module': 'buzzard_spark.pydaemon',
}


def _local_dir() -> str | None:
    """``$SPARK_GRAFT_LOCAL_DIR`` (default: tmpfs), created on demand;
    None when it cannot be created."""
    d = os.environ.get('SPARK_GRAFT_LOCAL_DIR', '/dev/shm/spark-local')
    try:
        os.makedirs(d, exist_ok=True)
    except OSError:
        return None
    return d


def get_session(master: str | None = None, app_name: str = 'buzzard_spark',
                shuffle_partitions: int | None = None) -> SparkSession:
    """Session sized to the host unless overridden: ``local[cpus]`` with
    the CPUs this process may run on ($SPARK_GRAFT_CPUS) and half of
    physical memory for the driver ($SPARK_GRAFT_DRIVER_MEM). Python
    workers start from ``buzzard_spark.pydaemon`` (ENGINE_CONFS), so
    ``buzzard_spark`` must be importable where they run — on the
    workers' PYTHONPATH or in their working directory."""
    if master is None:
        cpus = os.environ.get('SPARK_GRAFT_CPUS',
                              str(len(os.sched_getaffinity(0))))
        master = f'local[{cpus}]'
    if shuffle_partitions is None:
        n = master.split('[')[-1].rstrip(']*')
        shuffle_partitions = int(n) if n.isdigit() else 32
    ram = os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES')  # MemTotal
    local_dir = _local_dir()
    builder = (SparkSession.builder.master(master).appName(app_name)
               .config('spark.sql.shuffle.partitions', str(shuffle_partitions))
               .config('spark.driver.memory',
                       os.environ.get('SPARK_GRAFT_DRIVER_MEM',
                                      f'{(ram // 2) >> 20}m')))
    if local_dir:
        # tmpfs shuffle dirs: immune to neighbor disk I/O on the shared host
        builder = builder.config('spark.local.dir', local_dir)
    for key, val in ENGINE_CONFS.items():
        builder = builder.config(key, val)
    return builder.getOrCreate()


def warm_session(spark) -> None:
    """One-time session warmup: JVM codegen, the Arrow/pandas Python
    worker pool, and the window codegen path (measured 5-7s otherwise
    billed to whichever operation a harness runs first). perfbench's
    worker calls this during set-up so its per-operation walls measure
    operators, not session spin-up."""
    import pandas as _pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W
    warm = spark.range(0, 100_000, 1, 8).selectExpr('id', 'id % 7 AS k')
    warm.groupBy('k').applyInPandas(
        lambda pdf: _pd.DataFrame({'k': [int(pdf['k'].iloc[0])],
                                   'n': [len(pdf)]}), 'k long, n long') \
        .write.format('noop').mode('overwrite').save()
    warm.select(F.row_number().over(
        W.partitionBy('k').orderBy('id')).alias('rn')) \
        .where('rn <= 3').write.format('noop').mode('overwrite').save()


def local_frame(spark, data, schema):
    """A ``LocalRelation`` holding driver-resolved ``data`` under ``schema``.

    ``data`` is a sequence of row tuples or a pandas frame (columns taken
    by POSITION); ``schema`` is a StructType or a DDL string whose types
    and nullability the frame keeps (pandas NaN/None become NULL). The
    rows travel to the JVM as one Arrow table, so the plan is a local
    relation with its true size: the planner can broadcast it, and
    scanning it starts no Spark job. A list ``createDataFrame`` instead
    builds a ``LogicalRDD`` over a Python RDD — no size estimate (never
    broadcast) and Python worker tasks on every scan. Engine code builds
    every driver-resolved frame here."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    if isinstance(data, pd.DataFrame):
        cols = [pa.Array.from_pandas(data.iloc[:, i], type=f.type)
                for i, f in enumerate(arrow)]
    else:
        data = list(data)
        cols = [pa.array([row[i] for row in data], type=f.type)
                for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow),
                                 schema)


def fetch(df, cap: int, name: str):
    """The rows of ``df`` as one pandas frame, fetched in one Arrow trip
    (``limit(cap + 1)``); more than ``cap`` rows raise ``ValueError``
    naming the module constant ``name`` instead of pulling an unbounded
    result through the driver. Every operator's driver trip goes through
    here; its result leaves as :func:`local_frame` of the fetched rows."""
    pdf = df.limit(cap + 1).toPandas()
    if len(pdf) > cap:
        raise ValueError(f'the driver fetches at most {name}={cap} rows of '
                         f'this result; got more')
    return pdf


def release_blocks(cached=()):
    """Unpersist every DataFrame in ``cached`` immediately, including the
    internal RDD blocks a ``localCheckpoint`` pins, which
    Dataset.unpersist does not manage.

    This is the engine's cache-lifetime contract: an operator that
    persists intermediates :func:`fetch`-es its result, releases them
    here (in a ``finally``, so a raise leaks nothing either) and returns
    a :func:`local_frame`, which holds no lineage into the released
    frames. A long-lived session embedding the library thus never
    accumulates cached partitions (``getPersistentRDDs()`` stays empty
    between queries)."""
    for df in cached:
        df.unpersist()
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == 'LogicalRDD':
            plan.rdd().unpersist(False)
