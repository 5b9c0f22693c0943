"""Similarity search over embedding columns (array<float>).

- ``brute_topk`` — exact cosine top-k: broadcast the (small) query set,
  dot products via zip_with/aggregate (JVM, no Python), window top-k.
  The baseline and the oracle-checkable path.
- ``lsh_topk`` — the scale path: random-hyperplane LSH signs bucket the
  corpus; queries probe their bucket (+ multi-probe neighbors by flipping
  the lowest-margin bits), exact re-rank inside the candidate set. At
  10^12 rows the corpus-side bucketing is a single narrow column and the
  join is an equi-join on bucket id — no crossJoin anywhere.
- ``cosine_near_pairs`` — EXACT cosine-threshold self-join (the
  embedding near-duplicate detector): block-matrix decomposition, one
  numpy matmul per block pair, never a row-pair crossJoin.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from buzzard_spark.session import local_frame

COS = ('(aggregate(zip_with(vec, qvec, (x, y) -> CAST(x AS DOUBLE) * '
       'CAST(y AS DOUBLE)), 0E0, (acc, v) -> acc + v) / '
       '(sqrt(aggregate(vec, 0E0, (acc, v) -> acc + CAST(v AS DOUBLE) * '
       'CAST(v AS DOUBLE))) * '
       'sqrt(aggregate(qvec, 0E0, (acc, v) -> acc + CAST(v AS DOUBLE) * '
       'CAST(v AS DOUBLE)))))')


def _topk(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy('qid').orderBy(F.col('cos').desc(),
                                          F.col('vec_id').asc())
    return (cand.withColumn('cos', F.expr(COS))
            .withColumn('rnk', F.row_number().over(w))
            .where(F.col('rnk') <= k))


def brute_topk(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """corpus(vec_id, vec) × queries(qid, qvec) → (qid, vec_id, cos, rnk)."""
    cand = corpus.crossJoin(F.broadcast(queries))
    return _topk(cand, k).select('qid', 'vec_id', 'cos', 'rnk')


def _plane_expr(planes: np.ndarray, vec_col: str) -> str:
    """Sign-bucket id from fixed hyperplanes — pure SQL arithmetic."""
    bits = []
    for b, plane in enumerate(planes):
        dot = ' + '.join(
            f'CAST({vec_col}[{i}] AS DOUBLE) * {w!r}'
            for i, w in enumerate(plane) if abs(w) > 1e-12)
        bits.append(f'(CASE WHEN ({dot}) > 0E0 THEN shiftleft(1L, {b}) '
                    'ELSE 0L END)')
    return '(' + ' | '.join(bits) + ')'


def lsh_planes(dim: int, n_planes: int = 12, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_planes, dim)
    return planes / np.linalg.norm(planes, axis=1, keepdims=True)


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int, dim: int,
             n_planes: int = 8, probe_bits: int = 2,
             n_tables: int = 2) -> DataFrame:
    """Approximate cosine top-k: n_tables independent hyperplane-LSH
    bucketings, multi-probe within each, candidates unioned + deduped,
    exact re-rank. Recall is tested (tests/test_spark_trainops.py) rather
    than exactness — the scale path trades exact recall for equi-joins.
    """
    probes = [0]
    for b1 in range(n_planes):
        probes.append(1 << b1)
        if probe_bits >= 2:
            for b2 in range(b1 + 1, n_planes):
                probes.append((1 << b1) | (1 << b2))

    cands = None
    for t in range(n_tables):
        planes = lsh_planes(dim, n_planes, seed=42 + 1000 * t)
        c_bucket = corpus.withColumn(
            'bucket', F.expr(_plane_expr(planes, 'vec')))
        q_bucket = queries.withColumn(
            'bucket0', F.expr(_plane_expr(planes, 'qvec')))
        q_probe = q_bucket.withColumn(
            '_flip', F.explode(F.array(*[F.lit(p) for p in probes])))
        q_probe = q_probe.withColumn(
            'bucket', F.expr('bucket0').bitwiseXOR(F.col('_flip'))) \
            .drop('_flip', 'bucket0')
        pair = (c_bucket.join(F.broadcast(q_probe), 'bucket')
                .select('qid', 'qvec', 'vec_id', 'vec'))
        cands = pair if cands is None else cands.unionByName(pair)
    cands = cands.dropDuplicates(['qid', 'vec_id'])
    return _topk(cands, k).select('qid', 'vec_id', 'cos', 'rnk')


def cosine_near_pairs(emb: DataFrame, threshold: float,
                      n_blocks: int = 8, id_col: str = 'vec_id',
                      vec_col: str = 'vec') -> DataFrame:
    """Exact embedding near-duplicate pairs: every (id_a < id_b) with
    cosine(vec_a, vec_b) >= threshold.

    A correct threshold join is O(n²) dot products — the question at scale
    is only how they are distributed. Block-matrix strategy:

    1. rows hash into ``n_blocks`` blocks (pmod(xxhash64(id), B));
    2. a broadcast table of the B·(B+1)/2 unordered block pairs replicates
       each row to the pairs its block participates in (left leg when its
       block is the pair's low id, right leg when high) — communication is
       O(n·B) rows, one shuffle keyed by (bi, bj);
    3. each (bi, bj) group is ONE Arrow batch → ONE numpy matmul of the
       two unit-vector slices (float64); the diagonal groups (bi == bj)
       take the strict upper triangle. No per-pair Python, no crossJoin.

    Normalization happens once, JVM-side, before replication. Sizing at
    scale: each task holds 2·(n/B)·dim·8 bytes — raise ``n_blocks`` with
    n so a slice stays cache/memory-resident (n=10^9, dim=768, B=4096 →
    ~3 GB work per task pair over ~8M tasks; add a norm/prefix upstream
    filter if the threshold is high enough to prune).

    Output: (id_a, id_b) — ids only, so cross-engine float rounding of the
    cosine value itself can never flip a comparison row (membership at the
    threshold is the operator's contract; margins are the caller's data
    property).
    """
    spark = emb.sparkSession
    unit = (f'transform({vec_col}, x -> CAST(x AS DOUBLE) / '
            f'sqrt(aggregate({vec_col}, 0E0, '
            '(a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))')
    tagged = emb.select(
        F.col(id_col).cast('long').alias('_id'),
        F.expr(unit).alias('_u'),
        F.expr(f'pmod(xxhash64(CAST({id_col} AS LONG)), {n_blocks})')
        .cast('int').alias('_b'))

    pairs = local_frame(
        spark, [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        'bi int, bj int')
    left = (tagged.join(F.broadcast(pairs), tagged._b == pairs.bi)
            .select('bi', 'bj', F.lit(0).alias('side'), '_id', '_u'))
    right = (tagged.join(F.broadcast(pairs),
                         (tagged._b == pairs.bj) & (pairs.bi != pairs.bj))
             .select('bi', 'bj', F.lit(1).alias('side'), '_id', '_u'))
    both = left.unionByName(right)

    thr = float(threshold)

    def _block(key, pdf):
        bi, bj = key
        lm = pdf[pdf['side'] == 0]
        lids = lm['_id'].to_numpy()
        X = np.stack(lm['_u'].to_numpy()) if len(lm) else \
            np.empty((0, 0))
        if bi == bj:
            rids, Y = lids, X
        else:
            rm = pdf[pdf['side'] == 1]
            rids = rm['_id'].to_numpy()
            Y = np.stack(rm['_u'].to_numpy()) if len(rm) else \
                np.empty((0, 0))
        if len(lids) == 0 or len(rids) == 0:
            return pd.DataFrame({'id_a': np.empty(0, np.int64),
                                 'id_b': np.empty(0, np.int64)})
        S = X @ Y.T
        ii, jj = np.nonzero(S >= thr)
        if bi == bj:
            keep = lids[ii] != rids[jj]  # same slice: drop the diagonal
            ii, jj = ii[keep], jj[keep]
        a = np.minimum(lids[ii], rids[jj])
        b = np.maximum(lids[ii], rids[jj])
        if bi == bj:  # both triangles present — keep one orientation
            keep = lids[ii] < rids[jj]
            a, b = a[keep], b[keep]
        return pd.DataFrame({'id_a': a.astype(np.int64),
                             'id_b': b.astype(np.int64)})

    return (both.groupBy('bi', 'bj')
            .applyInPandas(_block, 'id_a long, id_b long'))


def ivf_centroids(sample: np.ndarray, n_cells: int, iters: int = 10,
                  seed: int = 42) -> np.ndarray:
    """Deterministic coarse quantizer: spherical k-means on a driver-side
    sample (numpy). The sample is small (n_cells·20 rows — the standard
    IVF train set is a fraction of the corpus); at 10^12 rows the sample
    is still a bounded collect and training stays O(sample·cells·iters).
    Returns unit-norm centroids (n_cells × dim)."""
    rng = np.random.RandomState(seed)
    X = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True),
                            1e-12)
    C = X[rng.choice(len(X), size=n_cells, replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(n_cells):
            m = assign == c
            if m.any():
                v = X[m].sum(axis=0)
                n = np.linalg.norm(v)
                if n > 1e-12:
                    C[c] = v / n
    return C


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int,
             n_cells: int = 16, nprobe: int = 4,
             sample_rows: int | None = None, seed: int = 42,
             broadcast_queries: bool = True) -> DataFrame:
    """IVF-Flat approximate cosine top-k — the inverted-file scale path.

    1. train: spherical k-means centroids on a bounded driver sample;
    2. index: each corpus vector goes to its nearest centroid's cell
       (one Arrow-batched matmul per partition — mapInPandas, no per-row
       Python);
    3. search: each query probes its ``nprobe`` nearest cells; candidates
       arrive via an equi-join on cell id and are exactly re-ranked.

    Probing all cells (nprobe == n_cells) makes the search EXACT — the
    conformance test pins that equivalence to ``brute_topk``; recall at
    nprobe < n_cells is the tested tradeoff. At scale the cell column is
    one int per corpus row, the join is an equi-join (shuffle keyed by
    cell — hot cells split by AQE), and nothing quadratic exists anywhere.

    corpus: (vec_id, vec), queries: (qid, qvec) → (qid, vec_id, cos, rnk).
    """
    spark = corpus.sparkSession
    n_sample = sample_rows or n_cells * 20
    # orderBy before limit: deterministic train set (plain limit is
    # partition-order-dependent); planned as TakeOrdered (per-partition
    # heaps), no global sort
    sample = np.stack([np.asarray(r['vec'], dtype=np.float64)
                       for r in corpus.select('vec_id', 'vec')
                       .orderBy('vec_id').limit(n_sample).collect()])
    C = ivf_centroids(sample, min(n_cells, len(sample)), seed=seed)
    bc = spark.sparkContext.broadcast(C)

    def _assign(it):
        for pdf in it:
            X = np.stack(pdf['vec'].to_numpy()).astype(np.float64)
            U = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                               1e-12)
            pdf = pdf.copy()
            pdf['cell'] = np.argmax(U @ bc.value.T, axis=1).astype(np.int32)
            yield pdf

    import pyspark.sql.types as T
    schema = T.StructType(corpus.schema.fields +
                          [T.StructField('cell', T.IntegerType())])
    indexed = corpus.mapInPandas(_assign, schema)

    def _probe(it):
        for pdf in it:
            X = np.stack(pdf['qvec'].to_numpy()).astype(np.float64)
            U = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                               1e-12)
            order = np.argsort(-(U @ bc.value.T), axis=1)[:, :nprobe]
            out = pdf.loc[pdf.index.repeat(order.shape[1])].copy()
            out['cell'] = order.reshape(-1).astype(np.int32)
            yield out

    qschema = T.StructType(queries.schema.fields +
                           [T.StructField('cell', T.IntegerType())])
    probed = queries.mapInPandas(_probe, qschema)
    # broadcast fits interactive probe sets; a bulk query table (e.g.
    # all-pairs self-search) sets broadcast_queries=False for a plain
    # shuffle equi-join on cell (AQE splits hot cells)
    probe_side = F.broadcast(probed) if broadcast_queries else probed
    cand = (indexed.join(probe_side, 'cell')
            .select('qid', 'qvec', 'vec_id', 'vec'))
    return _topk(cand, k).select('qid', 'vec_id', 'cos', 'rnk')


def pq_codebooks(sample: np.ndarray, m_sub: int = 4, ks: int = 16,
                 iters: int = 10, seed: int = 42) -> np.ndarray:
    """Deterministic product-quantization codebooks: plain k-means per
    subspace on the UNIT-NORMALIZED sample (FAISS ``by_residual=False``
    flavor — codes approximate the vector itself, not the IVF residual;
    simpler, and the exact re-rank downstream absorbs the difference).
    Returns (m_sub, ks, dim/m_sub)."""
    X = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True),
                            1e-12)
    d = X.shape[1]
    if d % m_sub:
        raise ValueError(f'dim {d} not divisible by m_sub {m_sub}')
    if len(X) < ks:
        raise ValueError(f'sample ({len(X)}) smaller than ks ({ks})')
    ds = d // m_sub
    rng = np.random.RandomState(seed)
    books = np.zeros((m_sub, ks, ds))
    for mi in range(m_sub):
        S = X[:, mi * ds:(mi + 1) * ds]
        C = S[rng.choice(len(S), size=ks, replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None]) ** 2).sum(-1)
            a = np.argmin(d2, axis=1)
            for c in range(ks):
                msk = a == c
                if msk.any():
                    C[c] = S[msk].mean(0)
        books[mi] = C
    return books


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, k: int,
               n_cells: int = 16, nprobe: int = 4,
               m_sub: int = 4, ks: int = 16, rerank: int = 64,
               sample_rows: int | None = None, seed: int = 42) -> DataFrame:
    """IVF-PQ approximate cosine top-k — the memory-compressed ANN tier.

    On top of :func:`ivf_topk`'s inverted file, every corpus vector also
    carries an ``m_sub``-byte PQ code (16-per-subspace codebooks → one
    byte each; a 1536-dim float32 embedding compresses 1536× at m_sub=4).
    Search: probe ``nprobe`` cells; per query, score every candidate by
    ASYMMETRIC DISTANCE (one m_sub×ks lookup table per query, a numpy
    gather over the candidate code matrix — no full-vector math); keep
    the PQ-top-``rerank``; re-rank those EXACTLY through the same SQL
    cosine as ``brute_topk``, so returned ``cos`` values are bit-identical
    to the brute path and ``rerank >= candidates`` + ``nprobe == n_cells``
    degrades to exact search (the conformance pin).

    Scale shape: codes ride the same cell equi-join as IVF-Flat; the ADC
    stage is applyInPandas grouped by qid (bounded: candidates per query
    ≤ corpus/nprobe share), truncating the exact-re-rank input from
    O(candidates) to O(rerank) full-vector rows per query — the knob that
    makes 10^12-row search affordable. Recall at truncating settings is
    the pytest-pinned tradeoff.

    corpus: (vec_id, vec), queries: (qid, qvec) → (qid, vec_id, cos, rnk).
    """
    import pyspark.sql.types as T

    spark = corpus.sparkSession
    n_sample = sample_rows or max(n_cells * 20, ks * 8)
    sample = np.stack([np.asarray(r['vec'], dtype=np.float64)
                       for r in corpus.select('vec_id', 'vec')
                       .orderBy('vec_id').limit(n_sample).collect()])
    C = ivf_centroids(sample, min(n_cells, len(sample)), seed=seed)
    B = pq_codebooks(sample, m_sub=m_sub, ks=ks, seed=seed)
    bc = spark.sparkContext.broadcast((C, B))

    ds = B.shape[2]

    def _index(it):
        for pdf in it:
            X = np.stack(pdf['vec'].to_numpy()).astype(np.float64)
            U = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                               1e-12)
            Cb, Bb = bc.value
            codes = np.empty((len(U), m_sub), np.uint8)
            for mi in range(m_sub):
                S = U[:, mi * ds:(mi + 1) * ds]
                d2 = ((S[:, None, :] - Bb[mi][None]) ** 2).sum(-1)
                codes[:, mi] = np.argmin(d2, axis=1)
            pdf = pdf.copy()
            pdf['cell'] = np.argmax(U @ Cb.T, axis=1).astype(np.int32)
            pdf['code'] = [c.tobytes() for c in codes]
            yield pdf

    ischema = T.StructType(corpus.schema.fields +
                           [T.StructField('cell', T.IntegerType()),
                            T.StructField('code', T.BinaryType())])
    indexed = corpus.mapInPandas(_index, ischema)

    def _probe(it):
        for pdf in it:
            X = np.stack(pdf['qvec'].to_numpy()).astype(np.float64)
            U = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                               1e-12)
            order = np.argsort(-(U @ bc.value[0].T), axis=1)[:, :nprobe]
            out = pdf.loc[pdf.index.repeat(order.shape[1])].copy()
            out['cell'] = order.reshape(-1).astype(np.int32)
            yield out

    qschema = T.StructType(queries.schema.fields +
                           [T.StructField('cell', T.IntegerType())])
    probed = queries.mapInPandas(_probe, qschema)
    cand = (indexed.join(F.broadcast(probed), 'cell')
            .select('qid', 'qvec', 'vec_id', 'vec', 'code'))

    def _adc(key, pdf):
        Cb, Bb = bc.value
        q = np.asarray(pdf['qvec'].iloc[0], dtype=np.float64)
        q = q / max(np.linalg.norm(q), 1e-12)
        lut = np.stack([Bb[mi] @ q[mi * ds:(mi + 1) * ds]
                        for mi in range(m_sub)])           # (m_sub, ks)
        codes = np.frombuffer(b''.join(pdf['code']),
                              np.uint8).reshape(len(pdf), m_sub)
        approx = lut[np.arange(m_sub)[None, :], codes].sum(axis=1)
        keep = np.argsort(-approx, kind='stable')[:rerank]
        return pdf.iloc[keep].drop(columns=['code'])

    adc_schema = T.StructType([f for f in cand.schema.fields
                               if f.name != 'code'])
    survivors = cand.groupBy('qid').applyInPandas(_adc, adc_schema)
    return _topk(survivors, k).select('qid', 'vec_id', 'cos', 'rnk')
