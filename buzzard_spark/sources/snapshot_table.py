"""Parquet + snapshot-manifest table (Iceberg emulated; SURVEY.md §7.0).

Real Iceberg jars are unavailable offline, so the engine ships a minimal
snapshot layer with the properties the north rule needs:

- **atomic CAS commits**: data files land under a writer-unique
  ``data/snap-N-<token>/``; the manifest ``_manifest/snap-N.json`` is
  claimed with O_EXCL (unique snapshot ids even under concurrent writers —
  a losing writer re-chains onto the winner and takes the next id), then
  ``CURRENT`` moves forward via temp+rename — readers never see a
  half-written snapshot and no commit silently replaces another.
- **per-partition lineage + metrics**: each manifest records, per data
  file, rows / bytes / md5, plus the job-level metrics observed via
  ``Observation`` during the write.
- **one schema per table**: an append whose field names or types differ
  from the table's recorded schema raises ``ValueError`` (nullability is
  ignored), so every snapshot reads back with the same columns.
- **resumability**: tile-keyed tables record the distinct key set per
  snapshot in an executor-written parquet SIDECAR (``_keys/snap-*``; the
  manifest holds only its path — keys never transit the driver);
  ``completed_keys`` + a distributed anti-join skip work already done — the
  engine's re-expression of the reference's cache supervisor
  ("pixels never computed twice", reference: buzzard/_dataset.py:1037-1041,
  buzzard/_actors/cached/cache_supervisor.py).
- **integrity**: file size AND md5 are checked against the manifest on
  read (once per process per file), like the reference's checksum pass
  (reference: buzzard/_cached_raster_recipe.py:146-166); mismatching files
  invalidate their keys so they are recomputed — same-size bit-rot included.

Keep the surface small so real Iceberg drops in behind the same calls.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _md5_file(path: str) -> str:
    h = hashlib.md5()
    with open(path, 'rb') as f:
        for chunk in iter(lambda: f.read(1 << 20), b''):
            h.update(chunk)
    return h.hexdigest()


def _field_types(schema) -> dict:
    """{field name: type string} — a schema with nullability dropped."""
    return {f.name: f.dataType.simpleString() for f in schema.fields}


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self.manifest_dir = os.path.join(root, '_manifest')
        os.makedirs(self.manifest_dir, exist_ok=True)
        # checksum results cached per (path, mtime, size): each data file is
        # verified once per process, like the reference's one-shot
        # file-checker pass (buzzard/_actors/cached/file_checker.py)
        self._verified: dict[tuple, bool] = {}

    # -- manifest plumbing -------------------------------------------------------

    def _current_path(self):
        return os.path.join(self.manifest_dir, 'CURRENT')

    def current_snapshot_id(self) -> int | None:
        try:
            with open(self._current_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _load_manifest(self, snap_id: int) -> dict:
        with open(os.path.join(self.manifest_dir, f'snap-{snap_id}.json')) as f:
            return json.load(f)

    def manifests(self) -> list[dict]:
        """All manifests of the CURRENT lineage chain, oldest first."""
        out = []
        snap_id = self.current_snapshot_id()
        while snap_id is not None:
            m = self._load_manifest(snap_id)
            out.append(m)
            snap_id = m.get('parent')
        return list(reversed(out))

    def _atomic_write(self, path: str, payload: str):
        tmp = path + '.tmp-' + uuid.uuid4().hex
        with open(tmp, 'w') as f:
            f.write(payload)
        os.replace(tmp, path)

    # -- write -------------------------------------------------------------------

    def append(self, df: DataFrame, key_cols: list[str] | None = None,
               observe: dict | None = None) -> dict:
        """Append df as a new snapshot. Returns the manifest dict.

        key_cols: tile/content keys recorded for resume anti-joins.
        observe: extra named aggregate Columns measured during the write
        (runs through Spark's Observation API — one pass, no extra job).

        Raises ``ValueError`` when df's field names or types differ from
        the table's recorded schema (nullability ignored).
        """
        parent = self.current_snapshot_id()
        if parent is not None:
            have = StructType.fromJson(
                json.loads(self._load_manifest(parent)['schema']))
            if _field_types(df.schema) != _field_types(have):
                raise ValueError(
                    f'append schema {df.schema.simpleString()} differs '
                    f'from the table schema {have.simpleString()} '
                    f'under {self.root}')
        # data lands in a writer-unique dir: two concurrent appends can
        # never clobber each other's files (the manifest references it)
        token = uuid.uuid4().hex[:8]
        data_dir = os.path.join(self.root, 'data',
                                f'snap-{(parent or 0) + 1}-{token}')

        obs = None
        if observe:
            obs = Observation(f'snap-{token}')
            df = df.observe(obs, *[expr.alias(name)
                                   for name, expr in observe.items()])
        df.write.mode('overwrite').parquet(data_dir)

        def _file_entry(path: str) -> dict:
            return {
                'path': os.path.relpath(path, self.root),
                'rows': pq.read_metadata(path).num_rows,
                'bytes': os.path.getsize(path),
                'md5': _md5_file(path),
            }

        # the commit tail (footer row count + md5 per data file) fans out
        # over a thread pool: sequentially it was a measured fixed 0.5-0.9 s
        # per commit of ~32 files; md5 releases the GIL, so threads give
        # near-linear speedup across files
        from concurrent.futures import ThreadPoolExecutor
        paths = [os.path.join(data_dir, name)
                 for name in sorted(os.listdir(data_dir))
                 if name.endswith('.parquet')]
        if len(paths) > 1:
            with ThreadPoolExecutor(min(16, len(paths))) as pool:
                files = list(pool.map(_file_entry, paths))
        else:
            files = [_file_entry(p) for p in paths]

        # resume keys live in an executor-written parquet SIDECAR, not the
        # manifest: embedded as JSON, every distinct key would pass through
        # the driver, and at the 100-TB design point millions of tile keys
        # make a manifest that no longer parses cheaply. The manifest
        # records only the sidecar path; resume anti-joins against the
        # parquet distributively and the driver never touches a key row.
        keys_path = None
        if key_cols:
            spark = df.sparkSession
            keys_dir = os.path.join(
                self.root, '_keys', f'snap-{(parent or 0) + 1}-{token}')
            (spark.read.parquet(data_dir).select(*key_cols).distinct()
             .write.mode('overwrite').parquet(keys_dir))
            keys_path = os.path.relpath(keys_dir, self.root)

        # compare-and-swap commit: the manifest file is created with O_EXCL
        # (the linearization point — snapshot ids are claimed uniquely); on
        # a claim conflict the id advances past the winner and the parent
        # pointer follows, keeping the lineage linear. CURRENT then only
        # moves forward (a raced flip regresses it by at most one commit
        # and the next commit converges it).
        snap_id = (parent or 0) + 1
        while True:
            manifest = {
                'snapshot_id': snap_id,
                'parent': parent,
                'created_ms': int(time.time() * 1000),
                'data_dir': os.path.relpath(data_dir, self.root),
                'files': files,
                'schema': df.schema.json(),
                'rows': sum(f['rows'] for f in files),
                'bytes': sum(f['bytes'] for f in files),
                'key_cols': key_cols,
                'keys_path': keys_path,
                'metrics': dict(obs.get) if obs is not None else {},
            }
            path = os.path.join(self.manifest_dir, f'snap-{snap_id}.json')
            try:
                fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
            except FileExistsError:
                parent = snap_id     # lost the claim: chain onto the winner
                snap_id += 1
                continue
            with os.fdopen(fd, 'w') as f:
                f.write(json.dumps(manifest, default=str))
            break
        cur = self.current_snapshot_id()
        if cur is None or cur < snap_id:
            self._atomic_write(self._current_path(), str(snap_id))
        return manifest

    # -- read / resume -----------------------------------------------------------

    def _file_ok(self, f: dict) -> bool:
        path = os.path.join(self.root, f['path'])
        try:
            st = os.stat(path)
        except FileNotFoundError:
            return False
        if st.st_size != f['bytes']:
            return False
        cache_key = (path, st.st_mtime_ns, st.st_size)
        if cache_key not in self._verified:
            self._verified[cache_key] = _md5_file(path) == f['md5']
        return self._verified[cache_key]

    def _valid_manifests(self) -> list[dict]:
        """Manifests whose files all pass size + md5 integrity; a snapshot
        with a corrupted/missing file is dropped from the lineage (its keys
        become incomplete → recomputed), matching the reference's
        checksummed corrupted-cache recovery (reference:
        buzzard/_cached_raster_recipe.py:146-166 — same-size bit-rot is
        caught, not just truncation). Each file is hashed once per process
        (mtime/size-keyed cache)."""
        good = []
        for m in self.manifests():
            if not all(self._file_ok(f) for f in m['files']):
                continue
            # a keyed snapshot whose key sidecar is missing/incomplete is
            # dropped too: its data rows would otherwise stay visible while
            # resume recomputes (and re-appends) the same keys — duplicates.
            # Dropping keeps the invariant exact; the work is simply redone.
            if m['keys_path'] is not None and not os.path.isfile(
                    os.path.join(self.root, m['keys_path'], '_SUCCESS')):
                continue
            good.append(m)
        return good

    def read(self, spark: SparkSession,
             dedupe_keys: list[str] | None = None) -> DataFrame:
        """Union of all valid snapshots. With ``dedupe_keys``, later
        snapshots win per key (read-modify-write / set_data semantics).

        Each scan carries its manifest's recorded schema, so reading
        starts no schema-inference job (``append`` keeps one schema per
        table)."""
        manifests = self._valid_manifests()
        if not manifests:
            raise FileNotFoundError(f'no valid snapshots under {self.root}')

        def _scan(m):
            return spark.read.schema(
                StructType.fromJson(json.loads(m['schema'])))

        if dedupe_keys is None:
            dirs = [os.path.join(self.root, m['data_dir']) for m in manifests]
            return _scan(manifests[-1]).parquet(*dirs)
        from pyspark.sql.window import Window
        parts = None
        for m in manifests:
            df = (_scan(m).parquet(os.path.join(self.root, m['data_dir']))
                  .withColumn('_snap', F.lit(m['snapshot_id'])))
            parts = df if parts is None else parts.unionByName(df)
        w = Window.partitionBy(*dedupe_keys).orderBy(F.col('_snap').desc())
        return (parts.withColumn('_rn', F.row_number().over(w))
                .where(F.col('_rn') == 1).drop('_rn', '_snap'))

    def completed_keys(self, spark: SparkSession,
                       key_cols: list[str]) -> DataFrame | None:
        """Distinct already-computed keys as a DataFrame — a distributed
        union of the per-snapshot parquet sidecars; no key row ever
        touches the driver."""
        paths = [os.path.join(self.root, m['keys_path'])
                 for m in self._valid_manifests()
                 if m['key_cols'] == key_cols]
        if not paths:
            return None
        return spark.read.parquet(*paths).select(*key_cols).distinct()

    def pending(self, todo: DataFrame, key_cols: list[str]) -> DataFrame:
        """Anti-join: rows of `todo` whose keys are not yet in the table.

        Plain left_anti equi-join — AQE broadcasts the done side when it is
        small and falls back to a shuffle join when it is millions of tile
        keys (a forced broadcast would pull every key through the driver)."""
        done = self.completed_keys(todo.sparkSession, key_cols)
        if done is None:
            return todo
        return todo.join(done, key_cols, 'left_anti')
