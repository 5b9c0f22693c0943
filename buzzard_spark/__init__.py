"""buzzard_spark — a PySpark-native spatial-join + tiling engine.

Re-expresses the capabilities of ``preligens-lab/buzzard`` as distributed
Spark operators over web-page tables:

- ``kernels``   — pure-numpy Footprint algebra (tiling, affine conversions,
  precision discipline), geometry (PIP, WKB), cell index, raster kernels,
  baseline GeoTIFF codec. No Spark imports; usable inside pandas UDFs.
- ``operators`` — distributed operators (spatial join, kNN, tiling explode,
  per-tile rasterize/polygonize, raster I/O, connected components). The
  stateless ones (``assign_cell``, ``pip_join_rect``) run unchanged on a
  structured-streaming DataFrame.
- ``sources``   — table format shim (parquet + snapshot manifest, Iceberg-style).

The kernel semantics mirror buzzard's ``Footprint``
(reference: buzzard/_footprint.py) bit-for-bit where the reference test
suite pins behavior; the distributed layer is designed Spark-first and is
NOT a port of buzzard's actor scheduler.
"""

from buzzard_spark.env import Env, env
from buzzard_spark.kernels.footprint import Footprint


def Dataset(spark, **kwargs):
    """Lazy import wrapper so `import buzzard_spark` works without pyspark
    on the path (kernels stay numpy-only). kwargs: sr_work / sr_fallback /
    sr_forced (the reference's 4 sr modes)."""
    from buzzard_spark.dataset import Dataset as _Dataset
    return _Dataset(spark, **kwargs)


__version__ = '0.1.0'

__all__ = ['Footprint', 'Env', 'env', 'Dataset', '__version__']
