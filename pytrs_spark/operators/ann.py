"""Similarity search over an embedding column (``array<float>``).

- :func:`brute_force_topk` -- exact cosine top-k against a broadcast
  query set, window rank per query.  The correctness baseline.
- :func:`lsh_bucket_topk` -- the scale path: random-hyperplane LSH
  (sign-bit sketch) buckets the corpus; candidates come from an
  equi-join on the bucket key, exact cosine re-ranks candidates only.
  At 100 TB this turns an all-pairs O(N*Q) scan into per-bucket joins.

Both the sketch and the cosine are vectorized numpy pandas UDFs: one
Arrow batch is stacked into a matrix and multiplied against the
(dim x tables*planes) hyperplane matrix / the paired vectors in a
single BLAS call.  (The previous ``aggregate(zip_with(...))``
formulation paid tables*planes interpreted lambda dot products per
row -- the measured-100x-slow HOF pathology; at 100 TB of embeddings
that was the dominant cost.)

Products are accumulated in float64 (float32 inputs widen first, so
each elementwise product is exact), which keeps the ranking stable
across batch splits.
"""

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import lifecycle


def _valid_mask(vals: np.ndarray, dim: int = None):
    """(mask, dim) over an object array of embedding rows: a row is
    valid iff non-null and its length matches ``dim`` (default: the
    batch's modal length).  One malformed row in a 100 TB corpus must
    yield a null output row, never a stage failure."""
    lens = np.fromiter(
        ((-1 if v is None else len(v)) for v in vals), dtype=np.int64,
        count=len(vals))
    if dim is None:
        pos = lens[lens > 0]
        if len(pos) == 0:
            return np.zeros(len(vals), dtype=bool), 0
        dim = int(np.bincount(pos).argmax())
    return lens == dim, dim


# Cap the float64 working set of a stacked sub-batch (rows x dim):
# with 64k-row Arrow batches a dim-768 corpus would otherwise stack
# ~400 MB per matrix per worker.
_STACK_ELEMS = 8_000_000


def _cosine_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
    av, bv = a.to_numpy(), b.to_numpy()
    ma, dim = _valid_mask(av)
    mb, _ = _valid_mask(bv, dim)
    ok = ma & mb
    out = np.full(len(av), None, dtype=object)
    idx = np.flatnonzero(ok)
    step = max(1, _STACK_ELEMS // max(dim, 1))
    for s in range(0, len(idx), step):
        ii = idx[s:s + step]
        A = np.stack(av[ii]).astype(np.float64)
        B = np.stack(bv[ii]).astype(np.float64)
        num = np.einsum('ij,ij->i', A, B)
        den = (np.sqrt(np.einsum('ij,ij->i', A, A))
               * np.sqrt(np.einsum('ij,ij->i', B, B)))
        with np.errstate(divide='ignore', invalid='ignore'):
            cs = num / den
        # Zero-norm vectors -> null, not NaN (Spark sorts NaN as the
        # LARGEST double, which would rank garbage rows first).
        out[ii] = [None if not np.isfinite(c) else float(c) for c in cs]
    return pd.Series(out, dtype=object)


_cosine_udf = F.pandas_udf(T.DoubleType())(_cosine_kernel)


def cosine(a, b) -> F.Column:
    """Batch-vectorized cosine similarity of two vector columns."""
    return _cosine_udf(a, b)


# The same kernel flagged non-deterministic (it IS deterministic --
# the flag is a Catalyst barrier): a filter placed on a
# deterministic-UDF column gets pushed below the projection
# (PushDownPredicate, and InferFiltersFromConstraints adds an
# isnotnull twin from any null-intolerant comparison), leaving TWO
# ArrowEvalPython nodes that each run the kernel over the full scan.
# Scoring through the ND clone pins the filter ABOVE the projection:
# one evaluation.  Use it for scan-stage score-then-filter shapes
# (threshold-mode alignment); windows/aggregates consume the score
# ATTRIBUTE, so ranking paths keep the plain UDF.  The clone is a
# SEPARATE UDF instance wrapped from the same kernel --
# ``asNondeterministic()`` mutates its receiver in place and returns
# self, so calling it on ``_cosine_udf`` itself would silently flag
# every ranking path's UDF too (and cost THEM pushdown).
_cosine_udf_nd = F.pandas_udf(T.DoubleType())(
    _cosine_kernel).asNondeterministic()


def cosine_scan(a, b) -> F.Column:
    """`cosine` for score-then-filter scan stages (see the barrier
    note above)."""
    return _cosine_udf_nd(a, b)


def _rank_topk(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """Per-query top-k over a (query_id, vec_id, <score>) table with
    null scores (malformed/zero-norm rows) excluded.

    The null filter sits ABOVE the window on the rank, not below it:
    a ``.filter(score.isNotNull())`` placed under the window is
    pushed by Catalyst into its own Filter node that RE-EVALUATES the
    Arrow UDF producing the score (two ArrowEvalPython nodes in the
    physical plan -- measured 1.38x wall on ann_topk, pinned by
    scripts/pin_regressions_r4.py).  Ranking with ``desc_nulls_last``
    first is semantically identical -- a null can never displace a
    valid row from the top k -- and keeps ONE UDF evaluation.
    """
    w = Window.partitionBy('query_id').orderBy(
        F.col(score_col).desc_nulls_last(), F.col('vec_id'))
    return (scored.withColumn('rank', F.row_number().over(w))
            .filter((F.col('rank') <= k)
                    & F.col(score_col).isNotNull()))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col='vec_id', vec_col='embedding',
                     qid_col='query_id', qvec_col='embedding') -> DataFrame:
    """Exact cosine top-k per query: corpus x broadcast(queries).

    Output: (query_id, vec_id, cos_sim, rank) with deterministic
    tie-break on vec_id.
    """
    q = queries.select(F.col(qid_col).alias('query_id'),
                       F.col(qvec_col).alias('_qvec'))
    joined = corpus.select(F.col(id_col).alias('vec_id'),
                           F.col(vec_col).alias('_vec')) \
        .crossJoin(F.broadcast(q))
    scored = joined.select(
        'query_id', 'vec_id',
        cosine(F.col('_vec'), F.col('_qvec')).alias('cos_sim'))
    # malformed/zero-norm rows score null; _rank_topk keeps them out
    # of the top k without re-evaluating the scoring UDF
    return _rank_topk(scored, 'cos_sim', k)


_PLANE_CACHE: dict = {}


def _plane_matrix(dim: int, n_planes: int, offset: int = 0) -> np.ndarray:
    """(dim, n_planes) hyperplane matrix for planes offset..offset+n-1.

    Component j of plane p is a splitmix64-style finalizer of
    ``(p * 1_000_003 + j + 1) * 0x9E3779B97F4A7C15`` mod 2^64, mapped
    to [-1, 1].  Vectorized uint64 (wrapping multiply == mod 2^64) and
    memoized per worker process: at dim=768 x 64
    planes the matrix is built once per executor lifetime, not once
    per Arrow batch (the Python double loop here used to run ~50k
    hash steps inside every UDF call)."""
    key = (dim, n_planes, offset)
    got = _PLANE_CACHE.get(key)
    if got is not None:
        return got
    with np.errstate(over='ignore'):
        p = (np.arange(offset, offset + n_planes, dtype=np.uint64)
             * np.uint64(1_000_003))[:, None]
        j = np.arange(1, dim + 1, dtype=np.uint64)[None, :]
        z = (p + j) * np.uint64(0x9E3779B97F4A7C15)
        z ^= z >> np.uint64(31)
        z *= np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(29)
    M = ((z % np.uint64(2_000_001)).astype(np.float64)
         / 1_000_000.0 - 1.0).T.copy()
    _PLANE_CACHE[key] = M
    return M


def _sketch_udf(planes: int, tables: int):
    """Pandas UDF: embedding -> array of ``tables`` bucket longs.

    One matmul per Arrow batch against the (dim x tables*planes) plane
    matrix; sign bits pack per table into a long.
    """
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def udf(vecs: pd.Series) -> pd.Series:
        vals = vecs.to_numpy()
        ok, dim = _valid_mask(vals)
        res = [None] * len(vals)
        idx = np.flatnonzero(ok)
        step = max(1, _STACK_ELEMS // max(dim, 1))
        weights = (np.uint64(1)
                   << np.arange(planes, dtype=np.uint64))
        for s in range(0, len(idx), step):
            ii = idx[s:s + step]
            X = np.stack(vals[ii]).astype(np.float64)
            P = _plane_matrix(X.shape[1], tables * planes)
            bits = (X @ P) >= 0            # (n, tables*planes)
            out = np.empty((len(X), tables), dtype=np.int64)
            for t in range(tables):
                seg = bits[:, t * planes:(t + 1) * planes] \
                    .astype(np.uint64)
                out[:, t] = (seg * weights).sum(
                    axis=1, dtype=np.uint64).astype(np.int64)
            rows = out.tolist()
            for i, j in enumerate(ii):
                res[j] = rows[i]
        # Null arrays: posexplode drops them, so malformed rows simply
        # never enter the index (vs failing the whole stage).
        return pd.Series(res, dtype=object)
    return udf


def _probe_sketch_udf(planes: int, tables: int, probes: int):
    """Query-side multi-probe sketch: per table, the primary bucket
    plus ``probes`` single-bit flips of the LEAST-certain bits (the
    sign bits whose hyperplane dot product has the smallest |margin|
    -- the standard multi-probe ordering).  A near neighbor that fell
    just across one hyperplane is recovered without doubling
    ``tables``: candidate lookups grow tables x (1+probes) on the tiny
    query side while the corpus index stays one row per table.

    Returns array<struct<table int, bucket long>> of length
    tables*(1+probes); null for malformed rows.
    """
    out_t = T.ArrayType(T.StructType([
        T.StructField('table', T.IntegerType()),
        T.StructField('bucket', T.LongType())]))

    @F.pandas_udf(out_t)
    def udf(vecs: pd.Series) -> pd.Series:
        vals = vecs.to_numpy()
        ok, _ = _valid_mask(vals)
        res = [None] * len(vals)
        if not ok.any():
            return pd.Series(res, dtype=object)
        X = np.stack(vals[ok]).astype(np.float64)
        P = _plane_matrix(X.shape[1], tables * planes)
        M = X @ P                       # margins, (n, tables*planes)
        bits = (M >= 0)
        weights = (np.uint64(1) << np.arange(planes, dtype=np.uint64))
        n = len(X)
        n_flips = min(probes, planes)
        rows = [[] for _ in range(n)]
        for t in range(tables):
            sl = slice(t * planes, (t + 1) * planes)
            seg = bits[:, sl].astype(np.uint64)
            base = (seg * weights).sum(axis=1, dtype=np.uint64)
            flip_order = np.argsort(np.abs(M[:, sl]), axis=1,
                                    kind='stable')[:, :n_flips]
            alts = base[:, None] ^ weights[flip_order]  # (n, n_flips)
            b64 = base.astype(np.int64)
            a64 = alts.astype(np.int64)
            for i in range(n):
                rows[i].append((t, int(b64[i])))
                rows[i].extend((t, int(a64[i, f]))
                               for f in range(n_flips))
        for i, j in enumerate(np.flatnonzero(ok)):
            res[j] = rows[i]
        return pd.Series(res, dtype=object)
    return udf


def sign_sketch(vec_col, dim: int, planes: int = 16,
                offset: int = 0) -> F.Column:
    """Single-table random-hyperplane sign sketch as a long (bit i =
    sign of the dot product with hyperplane offset+i).

    The multi-table path in :func:`lsh_bucket_topk` computes all
    tables in one matmul; this single-table column form is kept for
    composing custom index layouts.  ``offset=t*planes`` reproduces
    table t of the multi-table sketch.
    """
    @F.pandas_udf(T.LongType())
    def udf(vecs: pd.Series) -> pd.Series:
        vals = vecs.to_numpy()
        ok, _ = _valid_mask(vals, dim)
        res = np.full(len(vals), None, dtype=object)
        idx = np.flatnonzero(ok)
        step = max(1, _STACK_ELEMS // max(dim, 1))
        weights = (np.uint64(1)
                   << np.arange(planes, dtype=np.uint64))
        for s in range(0, len(idx), step):
            ii = idx[s:s + step]
            X = np.stack(vals[ii]).astype(np.float64)
            P = _plane_matrix(X.shape[1], planes, offset)
            bits = ((X @ P) >= 0).astype(np.uint64)
            res[ii] = (bits * weights).sum(
                axis=1, dtype=np.uint64).astype(np.int64).tolist()
        return pd.Series(res, dtype=object)
    return udf(vec_col)


def lsh_index(corpus: DataFrame, planes: int = 16, tables: int = 4,
              id_col='vec_id', vec_col='embedding') -> DataFrame:
    """Materializable LSH index: one (vec_id, table, bucket) row per
    corpus vector per table.  Build once, persist it (or write it out
    bucketed by (table, bucket)), and hand it to
    :func:`lsh_bucket_topk` via ``index=`` -- the per-query cost then
    never re-ships corpus vectors through Arrow.  At 10^12 vectors
    the index build is the one-time O(N) map pass; queries touch only
    bucket-matched ids."""
    sketch = _sketch_udf(planes, tables)
    return (corpus.select(F.col(id_col).alias('vec_id'),
                          F.col(vec_col).alias('_v'))
            .select('vec_id',
                    F.posexplode(sketch(F.col('_v')))
                    .alias('table', 'bucket')))


def lsh_bucket_topk(corpus: DataFrame, queries: DataFrame, dim: int,
                    k: int = 10, planes: int = 16, tables: int = 4,
                    probes: int = 0, index: DataFrame = None,
                    id_col='vec_id', vec_col='embedding',
                    qid_col='query_id', qvec_col='embedding') -> DataFrame:
    """Approximate top-k: multi-table sign-sketch buckets -> equi-join
    -> exact re-rank of candidates only.

    Each table uses a disjoint slice of hyperplanes; a corpus row is a
    candidate for a query if they share any table's bucket.
    ``probes`` > 0 turns on query-side multi-probe (per table, also
    look in the buckets reached by flipping that many least-certain
    sign bits) -- recall rises without touching the corpus index;
    candidate volume scales ~x(1+probes) in the worst case.

    ``index``: a prebuilt (persisted) :func:`lsh_index` with the SAME
    planes/tables.  Without it, every call pays the full corpus
    sketch pass (all vectors through Arrow) -- fine for one-shot
    jobs, wasteful for query-many serving.

    The candidate id pairs are a checkpoint (see
    :func:`lifecycle.checkpoint` for its fault-tolerance trade-off).
    """
    sketch = _sketch_udf(planes, tables)

    # Bucket streams and the candidate distinct carry ONLY ids: the
    # table-explode would otherwise replicate every corpus vector
    # `tables` (x probes) times through the join, and the distinct
    # would shuffle two d-dim arrays per candidate.  Vectors attach
    # after dedup -- corpus side by id equi-join, query side broadcast.
    def bucketize(df, idc, vecc, out_id):
        rows = df.select(F.col(idc).alias(out_id),
                         F.col(vecc).alias('_v'))
        return rows.select(
            out_id,
            F.posexplode(sketch(F.col('_v'))).alias('table', 'bucket'))

    cb = index if index is not None \
        else bucketize(corpus, id_col, vec_col, 'vec_id')
    if probes > 0:
        psketch = _probe_sketch_udf(planes, tables, probes)
        qb = (queries.select(F.col(qid_col).alias('query_id'),
                             F.col(qvec_col).alias('_v'))
              .select('query_id',
                      F.explode(psketch(F.col('_v'))).alias('tb'))
              .select('query_id',
                      F.col('tb.table').alias('table'),
                      F.col('tb.bucket').alias('bucket')))
    else:
        qb = bucketize(queries, qid_col, qvec_col, 'query_id')
    cand = (cb.join(F.broadcast(qb), ['table', 'bucket'])
            .select('query_id', 'vec_id')
            .distinct())
    cv = corpus.select(F.col(id_col).alias('vec_id'),
                       F.col(vec_col).alias('_vec_id_v'))
    qv = queries.select(F.col(qid_col).alias('query_id'),
                        F.col(qvec_col).alias('_query_id_v'))
    # Broadcasting the candidate ids lets the corpus vectors attach by
    # streamed scan + inline hash probe (no corpus shuffle) -- without
    # a hint the UDF-derived side has no size estimate and Catalyst
    # sort-merge-joins, shuffling every corpus vector.  But the
    # candidate count is |queries| x tables x (1+probes) x per-bucket
    # OCCUPANCY, and occupancy is unbounded under bucket skew (a
    # clustered corpus piles into few buckets), so a blind hint can
    # blow the broadcast limit / driver.  Gate it like
    # ngram_jaccard_pairs' bitmap verify (textops.py): the candidate
    # set is two longs per row, so checkpoint + count is one cheap
    # ids-only job; hint only under the 64 MB convention, else leave
    # the join to AQE (at that volume the shuffle join is the correct
    # plan anyway).
    cand = lifecycle.checkpoint(cand)
    n_cand = cand.count()
    cand_j = F.broadcast(cand) if n_cand * 48 <= 64 << 20 else cand
    scored = (cv.join(cand_j, 'vec_id')
              .join(F.broadcast(qv), 'query_id')
              .select('query_id', 'vec_id',
                      cosine(F.col('_vec_id_v'),
                             F.col('_query_id_v')).alias('cos_sim')))
    # null cos_sim (zero-norm rows that still bucketed) must not
    # occupy ranks in a sparse bucket -- same contract as pq_topk;
    # _rank_topk keeps the scoring UDF single-evaluated
    return _rank_topk(scored, 'cos_sim', k)


def embedding_near_dup_pairs(corpus: DataFrame, threshold: float = 0.4,
                             planes: int = 2, tables: int = 16,
                             id_col='vec_id',
                             vec_col='embedding') -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (id_a, id_b) with
    cosine similarity >= threshold -- the embedding leg of a
    training-data dedup pipeline (text legs: exact hash, MinHash LSH,
    SimHash in textops).

    Same LSH shape as :func:`lsh_bucket_topk`: multi-table sign-sketch
    buckets -> per-bucket self-join -> exact cosine verify on
    candidates only.  Never all-pairs: at corpus scale the self-join
    is per (table, bucket) key; planes controls bucket granularity
    (2^planes buckets per table), tables controls recall.  Recall for
    a pair at angle theta misses all tables with probability
    ``(1 - (1 - theta/pi)^planes)^tables`` -- at the defaults and
    cos=0.4 (theta ~ 66deg) that is ~6e-4 per pair; raise tables (or
    lower planes) for stricter recall, and verify against
    :func:`brute_force_topk`-style exact scans on a gate corpus.

    Output: (id_a, id_b, cos_sim) with id_a < id_b, exact cosines.
    """
    sketch = _sketch_udf(planes, tables)
    base = corpus.select(F.col(id_col).alias('id'),
                         F.col(vec_col).alias('_v'))
    # The bucket stream and its self-join carry ONLY (id, table,
    # bucket): a candidate row is 2 ids, not 2 embedding arrays.  With
    # d-dim vectors riding through the join + distinct, each of the
    # ~sum-of-bucket^2 candidate rows weighs ~16*d bytes and the
    # distinct shuffles all of it; id-only rows are ~20 bytes and the
    # exact-cosine verify late-materializes vectors by id join over
    # the deduped (much smaller) pair set -- the same
    # late-materialization policy as the tile path's payload columns.
    if tables * planes <= 63:
        # Zero-exchange exactly-once emission (the hamming-join
        # least-table rule): pack every table's bucket bits into one
        # long carried through the self-join; a pair that meets in
        # several tables is reported only by the FIRST table whose
        # buckets agree -- a codegen conjunction over the packed
        # fields -- so the distinct() shuffle of the (quadratic-in-
        # occupancy) candidate stream disappears.  Identical pair set:
        # bucket equality in table t == equality of the t-th
        # planes-bit field by construction (buckets < 2^planes).
        arr = base.select('id', sketch(F.col('_v')).alias('_sk'))
        # The no-distinct pipeline has NO exchange between the bucket
        # join and the cosine verify, so the join's probe side sets
        # the parallelism of the whole quadratic expansion; a small
        # single-file corpus would run it in one task.  Spread the
        # (skinny) sketch table first -- a few-KB shuffle; wide
        # corpora already exceed the default parallelism and skip it.
        par = base.sparkSession.sparkContext.defaultParallelism
        if arr.rdd.getNumPartitions() < par:
            arr = arr.repartition(par)
        pk = F.lit(0).cast('long')
        for t in range(tables):
            pk = pk.bitwiseOR(
                F.shiftleft(F.element_at('_sk', t + 1).cast('long'),
                            planes * t))
        b = arr.select('id', pk.alias('_pk'),
                       F.posexplode('_sk').alias('table', 'bucket'))
        left = b.alias('l')
        right = b.alias('r')

        def _field(col, t):
            return F.shiftrightunsigned(col, planes * t) \
                .bitwiseAND(F.lit((1 << planes) - 1))

        first_tab = F.lit(True)
        for t in range(tables - 1):
            first_tab = first_tab & (
                (F.col('table') <= t)
                | (_field(F.col('l._pk'), t) != _field(F.col('r._pk'), t)))
        cand = (left.join(right, ['table', 'bucket'])
                .filter(F.col('l.id') < F.col('r.id'))
                .filter(first_tab)
                .select(F.col('l.id').alias('id_a'),
                        F.col('r.id').alias('id_b')))
    else:
        b = base.select('id', F.posexplode(sketch(F.col('_v')))
                        .alias('table', 'bucket'))
        left = b.alias('l')
        right = b.alias('r')
        cand = (left.join(right, ['table', 'bucket'])
                .filter(F.col('l.id') < F.col('r.id'))
                .select(F.col('l.id').alias('id_a'),
                        F.col('r.id').alias('id_b'))
                .distinct())
    va = base.select(F.col('id').alias('id_a'), F.col('_v').alias('_va'))
    vb = base.select(F.col('id').alias('id_b'), F.col('_v').alias('_vb'))
    return (cand.join(va, 'id_a').join(vb, 'id_b')
            .select('id_a', 'id_b',
                    cosine(F.col('_va'), F.col('_vb')).alias('cos_sim'))
            .filter(F.col('cos_sim') >= threshold))


def _stable_norm_sample(corpus: DataFrame, id_col: str, vec_col: str,
                        train_sample: int) -> np.ndarray:
    """Deterministic training sample: the ``train_sample`` corpus
    vectors with the smallest stable hash of their id (same rows on
    any cluster size / partitioning), collected to the driver,
    malformed rows dropped, L2-normalized float64."""
    base = corpus.select(F.col(id_col).alias('id'),
                         F.col(vec_col).alias('v'))
    id_type = dict(base.dtypes)['id']
    if id_type in ('int', 'bigint', 'smallint', 'tinyint'):
        # SQL-expressible stable pseudo-shuffle (the DuckDB oracle
        # re-implements the whole IVF quantizer; xxhash64 has no
        # DuckDB twin).  Decorrelation from insertion order is all the
        # sample needs -- k-means washes the seeds out.
        # ((id % 65536) * 40503) % 65536 == (id * 40503) % 65536
        # (same residues -- verified algebra), but the reduced form
        # cannot overflow long under ANSI mode for snowflake-scale
        # ids (id * 40503 overflows past |id| ~ 2.3e14).
        key = F.pmod(
            F.pmod(F.col('id').cast('long'), F.lit(65536))
            * F.lit(40503), F.lit(65536))
    else:
        key = F.xxhash64(F.col('id').cast('string'))
    rows = (base.withColumn('_h', key)
            .orderBy('_h', 'id').limit(train_sample).collect())
    vals = np.empty(len(rows), dtype=object)
    vals[:] = [r['v'] for r in rows]
    ok, _ = _valid_mask(vals)
    if not ok.any():
        raise ValueError('no well-formed embeddings to train on')
    X = np.stack([np.asarray(v, dtype=np.float64) for v in vals[ok]])
    nx = np.sqrt(np.einsum('ij,ij->i', X, X))
    nx[nx == 0] = 1.0
    return X / nx[:, None]


def _centroid_matrix(corpus: DataFrame, n_cells: int, id_col: str,
                     vec_col: str, train_iters: int = 10,
                     train_sample: int = 8192) -> np.ndarray:
    """Deterministic spherical-k-means coarse quantizer (the standard
    IVF training recipe): a stable uniform sample (the ``train_sample``
    corpus vectors with the smallest ``xxhash64(id)`` -- same rows on
    any cluster size) collects to the driver, seeds = the first
    ``n_cells`` sample rows, then ``train_iters`` Lloyd iterations
    under cosine (argmax dot with normalized centroids, ties -> lowest
    cell id; empty cells keep their previous centroid).  Everything is
    numpy on an (<=8192, dim) matrix -- microseconds next to one Spark
    job -- and fully deterministic, so a resumed or re-run job builds
    the identical quantizer.  Returns (n_cells, dim) L2-normalized
    float64."""
    X = _stable_norm_sample(corpus, id_col, vec_col, train_sample)

    def normalize(C):
        n = np.sqrt(np.einsum('ij,ij->i', C, C))
        n[n == 0] = 1.0
        return C / n[:, None]

    n_cells = min(n_cells, len(X))
    C = normalize(X[:n_cells].copy())
    for _ in range(train_iters):
        assign = np.argmax(X @ C.T, axis=1)     # first-max tie-break
        newC = C.copy()
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                newC[c] = members.mean(axis=0)
        newC = normalize(newC)
        if np.array_equal(newC, C):
            break
        C = newC
    return C


def _cell_udf(C: np.ndarray, nprobe: int):
    """embedding -> array of the ``nprobe`` nearest cell ids by cosine
    against the normalized centroid matrix (one matmul per batch)."""
    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def udf(vecs: pd.Series) -> pd.Series:
        vals = vecs.to_numpy()
        ok, _ = _valid_mask(vals, C.shape[1])
        res = [None] * len(vals)
        idx = np.flatnonzero(ok)
        step = max(1, _STACK_ELEMS // max(C.shape[1], 1))
        for s in range(0, len(idx), step):
            ii = idx[s:s + step]
            X = np.stack(vals[ii]).astype(np.float64)
            nx = np.sqrt(np.einsum('ij,ij->i', X, X))
            nx[nx == 0] = 1.0
            sims = (X / nx[:, None]) @ C.T       # (n, n_cells)
            # top-nprobe cells, deterministic tie-break on cell id:
            # sort by (-sim, cell) via lexsort
            cells = np.lexsort(
                (np.broadcast_to(np.arange(C.shape[0]), sims.shape),
                 -sims), axis=1)[:, :nprobe].astype(np.int32)
            rows = cells.tolist()
            for i, j in enumerate(ii):
                res[j] = rows[i]
        return pd.Series(res, dtype=object)
    return udf


def _ivf_centroids(corpus: DataFrame, n_cells: int, id_col: str,
                   vec_col: str, train_sample: int = 8192) -> np.ndarray:
    """The quantizer is a property of the corpus, not of one query
    batch: memoize it on the corpus DataFrame (same pattern as the
    tile path's polygon prep) so repeated top-k calls against the
    same corpus skip the sample-collect + Lloyd training.  The
    training is deterministic, so a cache hit is result-identical."""
    cache = getattr(corpus, '_ivf_centroids_cache', None)
    if cache is None:
        cache = {}
        corpus._ivf_centroids_cache = cache
    # train_sample is part of the key: a second call with a different
    # sample size must retrain, not return stale centroids.
    key = (n_cells, id_col, vec_col, train_sample)
    C = cache.get(key)
    if C is None:
        C = _centroid_matrix(corpus, n_cells, id_col, vec_col,
                             train_sample=train_sample)
        cache[key] = C
    return C


def ivf_index(corpus: DataFrame, n_cells: int = 16,
              id_col='vec_id', vec_col='embedding',
              train_sample: int = 8192) -> DataFrame:
    """Materializable IVF index: (vec_id, cell, <vec_col>) -- the
    corpus with its inverted-list assignment attached.  Build once,
    persist it (or better: write out ``partitionBy('cell')`` so a
    probed query prunes to nprobe/n_cells of the FILES), and hand to
    :func:`ivf_topk` via ``index=``: per-query work then starts from
    a JVM-side cell filter instead of re-shipping every corpus vector
    through Arrow to recompute assignments."""
    C = _ivf_centroids(corpus, n_cells, id_col, vec_col,
                       train_sample=train_sample)
    # ND per-call instance, same reason as the ad-hoc ivf_topk path:
    # an UNPERSISTED index handed to ivf_topk/ivfpq_topk joins on
    # 'cell', and the inferred isnotnull(cell) would re-run the
    # assign kernel over the corpus (two ArrowEvalPython nodes).
    # Persisted/written indexes are unaffected either way.
    assign = _cell_udf(C, 1).asNondeterministic()
    return (corpus.select(F.col(id_col).alias('vec_id'),
                          F.col(vec_col).alias(vec_col))
            .select('vec_id', vec_col,
                    F.element_at(assign(F.col(vec_col)), 1)
                    .alias('cell')))


def _auto_nprobe(C: np.ndarray, X: np.ndarray, k: int = 10,
                 target: float = 0.9, n_queries: int = 256) -> int:
    """Sample-calibrated nprobe: the smallest probe count whose
    estimated recall@k meets ``target``, measured ON THE TRAINING
    SAMPLE (driver-side numpy, one matmul -- microseconds next to a
    Spark job).

    Why: on structureless (iid-uniform) corpora the coarse
    quantizer's cells carry no neighborhood information, so recall ~
    scan fraction and any FIXED nprobe silently under-recalls
    (measured 0.55 at nprobe=4/n_cells=32 on the uniform bench corpus
    vs 0.963 clustered).  Calibration makes the scan fraction follow
    the data: small probes when cells are informative, honest
    wide probes when they are not.

    Method: split the sample HELD-OUT -- the first ``n_queries`` rows
    become queries, the REST stand in for the corpus -- brute-force
    each query's true top-k within the held-out part, and find each
    true neighbor's cell's rank in the query's cell-similarity order;
    recall(nprobe) = fraction of true neighbors whose cell rank <
    nprobe.  In-sample calibration (query scored against a pool
    containing itself) counts the query as its own guaranteed-hit
    neighbor and systematically overestimates recall -- measured
    0.887 actual at a 0.9 in-sample target; the held-out split
    removes that bias.  A second, smaller bias remains: the held-out
    pool is smaller than the real corpus, so its neighbor cell-ranks
    run slightly easy (measured ~0.01 optimistic at an 8k sample vs a
    50k corpus).  A third of the miss budget is reserved for it:
    calibration targets ``target + (1 - target) / 3``.  Deterministic
    (sample and quantizer are)."""
    target = target + (1.0 - target) / 3.0
    n_cells = len(C)
    nq = max(1, min(n_queries, len(X) // 2))
    Q, R = X[:nq], X[nq:]
    order = np.argsort(-(Q @ R.T), axis=1)[:, :min(k, len(R))]
    cell_of = np.argmax(R @ C.T, axis=1)       # ties -> lowest id,
    # lexsort (-sim, cell): the SAME deterministic tie-break
    # _cell_udf executes -- a bare argsort breaks centroid-similarity
    # ties by quicksort internals, so calibration could measure a
    # probe order the real query path doesn't take
    sims_qc = Q @ C.T
    qcell_rank = np.lexsort(
        (np.broadcast_to(np.arange(C.shape[0]), sims_qc.shape),
         -sims_qc), axis=1)
    rows = np.arange(nq)[:, None]
    pos = np.empty((nq, n_cells), dtype=np.int64)
    pos[rows, qcell_rank] = np.arange(n_cells)[None, :]
    nb_pos = pos[rows, cell_of[order]]
    total = nb_pos.size
    for nprobe in range(1, n_cells + 1):
        if (nb_pos < nprobe).sum() / total >= target:
            return nprobe
    return n_cells


def _calibrated_nprobe(corpus: DataFrame, C: np.ndarray, id_col: str,
                       vec_col: str, k: int, target: float,
                       train_sample: int = 8192) -> int:
    """Memoized :func:`_auto_nprobe` over the corpus's stable
    training sample (same caching contract as the quantizer)."""
    cache = getattr(corpus, '_auto_nprobe_cache', None)
    if cache is None:
        cache = {}
        corpus._auto_nprobe_cache = cache
    key = (len(C), k, target, id_col, vec_col, train_sample)
    n = cache.get(key)
    if n is None:
        X = _stable_norm_sample(corpus, id_col, vec_col, train_sample)
        n = _auto_nprobe(C, X, k=k, target=target)
        cache[key] = n
    return n


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_cells: int = 16, nprobe: int = 4,
             index: DataFrame = None,
             id_col='vec_id', vec_col='embedding',
             qid_col='query_id', qvec_col='embedding',
             target_recall: float = 0.9,
             train_sample: int = 8192) -> DataFrame:
    """IVF approximate top-k: a deterministic coarse quantizer
    partitions the corpus into ``n_cells`` inverted lists; each query
    probes its ``nprobe`` nearest cells and exact-cosine re-ranks only
    those lists.

    The scan fraction is ~nprobe/n_cells of the corpus per query (vs
    1.0 for brute force); the corpus-side assignment is one map pass
    (no shuffle -- the join shuffles on the small cell key).  nprobe =
    n_cells degenerates to exact search.

    ``index``: a prebuilt (persisted) :func:`ivf_index` with the SAME
    n_cells.  Without it every call re-runs the full corpus
    assignment pass -- the dominant cost for query-many serving.

    ``nprobe='auto'`` calibrates the probe count to ``target_recall``
    on the training sample (see :func:`_auto_nprobe`): informative
    cells keep the scan fraction small; structureless corpora get the
    wide probe they actually need instead of a silent recall floor.
    """
    # train_sample MUST match the one the index (if any) was built
    # with: the memo keys on it, so a mismatch silently probes a
    # DIFFERENT quantizer than the index rows were assigned under.
    C = _ivf_centroids(corpus, n_cells, id_col, vec_col,
                       train_sample=train_sample)
    if nprobe == 'auto':
        nprobe = _calibrated_nprobe(corpus, C, id_col, vec_col,
                                    k=k, target=target_recall)
    probe = _cell_udf(C, min(nprobe, len(C)))
    if index is not None:
        cb = index.select('vec_id', F.col(vec_col).alias('_cv'),
                          'cell')
    else:
        # per-call UDF instance flagged ND: the cell column becomes
        # the JOIN key below, and InferFiltersFromConstraints would
        # otherwise push an isnotnull(assign-UDF) filter under the
        # projection -- the centroid-matmul kernel then runs TWICE
        # over the corpus (two ArrowEvalPython nodes, verified).
        # Per-call instance, so no other path is affected.
        assign = _cell_udf(C, 1).asNondeterministic()
        cb = (corpus.select(F.col(id_col).alias('vec_id'),
                            F.col(vec_col).alias('_cv'))
              .select('vec_id', '_cv',
                      F.element_at(assign(F.col('_cv')), 1)
                      .alias('cell')))
    qb = (queries.select(F.col(qid_col).alias('query_id'),
                         F.col(qvec_col).alias('_qv'))
          .select('query_id', '_qv',
                  F.explode(probe(F.col('_qv'))).alias('cell')))
    scored = (cb.join(F.broadcast(qb), 'cell')
              .select('query_id', 'vec_id',
                      cosine(F.col('_cv'), F.col('_qv'))
                      .alias('cos_sim')))
    # null cos_sim (zero-norm corpus rows that still landed in a
    # cell) must not occupy ranks when a probed cell holds < k valid
    # candidates -- same contract as the pq paths; _rank_topk keeps
    # the scoring UDF single-evaluated.
    return _rank_topk(scored, 'cos_sim', k)


# --- Product quantization (PQ) --------------------------------------

def _pq_codebooks(X: np.ndarray, m: int, nbits: int,
                  train_iters: int = 10) -> np.ndarray:
    """Deterministic per-subspace L2 k-means codebooks (Jegou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011).

    ``X`` is the normalized training sample; each of the ``m``
    contiguous dim/m subspaces gets ``2**nbits`` centroids: seeds =
    the first 2**nbits sample rows, Lloyd iterations with argmin
    (first-min = lowest code id) tie-break, empty cells keep their
    previous centroid -- same determinism contract as the IVF
    quantizer, so a resumed job rebuilds identical codebooks.
    Returns (m, ksub, dsub) float64.
    """
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f'pq: dim {dim} not divisible by m={m}')
    if not (1 <= nbits <= 8):
        raise ValueError('pq: nbits must be in 1..8 (one byte/code)')
    dsub = dim // m
    ksub = min(1 << nbits, len(X))
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        Xj = X[:, j * dsub:(j + 1) * dsub]
        C = Xj[:ksub].copy()
        for _ in range(train_iters):
            # squared L2 via the expansion; argmin ties -> first
            d2 = (np.einsum('ij,ij->i', Xj, Xj)[:, None]
                  - 2.0 * (Xj @ C.T)
                  + np.einsum('ij,ij->i', C, C)[None, :])
            assign = np.argmin(d2, axis=1)
            newC = C.copy()
            for c in range(ksub):
                members = Xj[assign == c]
                if len(members):
                    newC[c] = members.mean(axis=0)
            if np.array_equal(newC, C):
                break
            C = newC
        books[j] = C
    return books


def _pq_encode_udf(B: np.ndarray):
    """embedding -> m-byte PQ code (binary).  Vectors are
    L2-normalized before encoding, so decoded inner products
    approximate cosine.  Malformed rows -> null, never a failure."""
    m, ksub, dsub = B.shape
    dim = m * dsub

    @F.pandas_udf(T.BinaryType())
    def udf(vecs: pd.Series) -> pd.Series:
        vals = vecs.to_numpy()
        ok, _ = _valid_mask(vals, dim)
        out = [None] * len(vals)
        idx = np.flatnonzero(ok)
        step = max(1, _STACK_ELEMS // max(dim, 1))
        for s in range(0, len(idx), step):
            ii = idx[s:s + step]
            Xb = np.stack(vals[ii]).astype(np.float64)
            nx = np.sqrt(np.einsum('ij,ij->i', Xb, Xb))
            # zero-norm rows have no cosine direction: null code,
            # matching cosine()'s null-not-NaN contract
            nonzero = nx > 0
            nx[~nonzero] = 1.0
            Xb = Xb / nx[:, None]
            codes = np.empty((len(ii), m), dtype=np.uint8)
            for j in range(m):
                Xj = Xb[:, j * dsub:(j + 1) * dsub]
                d2 = (-2.0 * (Xj @ B[j].T)
                      + np.einsum('ij,ij->i', B[j], B[j])[None, :])
                codes[:, j] = np.argmin(d2, axis=1)
            rows = codes.tobytes()
            for i, jj in enumerate(ii):
                if nonzero[i]:
                    out[jj] = rows[i * m:(i + 1) * m]
        return pd.Series(out, dtype=object)
    return udf


def _pq_score_udf(B: np.ndarray):
    """(code binary, query vector) -> approximate cosine via ADC
    (asymmetric distance computation): per Arrow batch the *unique*
    query vectors build one (m, ksub) inner-product lookup table
    each, and every code row costs m byte-gathers + a sum -- no
    per-row decode, no per-row matmul."""
    m, ksub, dsub = B.shape
    dim = m * dsub

    @F.pandas_udf(T.DoubleType())
    def udf(codes: pd.Series, qvecs: pd.Series) -> pd.Series:
        cv, qv = codes.to_numpy(), qvecs.to_numpy()
        okq, _ = _valid_mask(qv, dim)
        okc = np.fromiter(
            ((c is not None and len(c) == m) for c in cv),
            dtype=bool, count=len(cv))
        ok = okq & okc
        out = np.full(len(cv), None, dtype=object)
        idx = np.flatnonzero(ok)
        if len(idx) == 0:
            return pd.Series(out, dtype=object)
        Q = np.stack(qv[idx]).astype(np.float64)
        nq = np.sqrt(np.einsum('ij,ij->i', Q, Q))
        # A zero-norm query has no cosine to ANY candidate: treat it
        # as invalid (null out, matching cosine()'s null-not-NaN
        # contract and the encode side's zero-norm handling) rather
        # than scoring every candidate 0.0 into real ranks.
        nzq = nq > 0
        idx = idx[nzq]
        if len(idx) == 0:
            return pd.Series(out, dtype=object)
        Q = Q[nzq] / nq[nzq][:, None]
        C = np.frombuffer(b''.join(cv[i] for i in idx),
                          dtype=np.uint8).reshape(len(idx), m)
        # unique queries via byte-view compare (np.unique(axis=0)
        # row-sorts ~10x slower); LUT[u, j, c] = <uq[u] subspace j,
        # codebook[j] centroid c>
        Qc = np.ascontiguousarray(Q)
        qview = Qc.view(
            np.dtype((np.void, Qc.dtype.itemsize * dim))).ravel()
        _, uidx, inv = np.unique(qview, return_index=True,
                                 return_inverse=True)
        uq = Qc[uidx]
        lut = np.einsum('ujd,jkd->ujk',
                        uq.reshape(len(uq), m, dsub), B)
        # direct fancy-index gather: (n, m) picks, no (n, m, ksub)
        # intermediate (lut[inv] would materialize ~n*m*ksub floats
        # -- 262 MB per 16k-row batch at m=8/ksub=256)
        scores = lut[inv[:, None], np.arange(m)[None, :],
                     C.astype(np.int64)].sum(axis=1)
        out[idx] = scores
        return pd.Series(out, dtype=object)
    return udf


def pq_codebooks(corpus: DataFrame, m: int = 4, nbits: int = 8,
                 id_col='vec_id', vec_col='embedding',
                 train_sample: int = 8192) -> np.ndarray:
    """Train (or fetch memoized) PQ codebooks for a corpus -- a
    property of the corpus, cached on the DataFrame like the IVF
    quantizer; training is deterministic so a cache hit is
    result-identical."""
    cache = getattr(corpus, '_pq_codebooks', None)
    if cache is None:
        cache = {}
        corpus._pq_codebooks = cache
    # train_sample is part of the key: a second call with a different
    # sample size must retrain, not return stale codebooks.
    key = (m, nbits, id_col, vec_col, train_sample)
    B = cache.get(key)
    if B is None:
        X = _stable_norm_sample(corpus, id_col, vec_col, train_sample)
        B = _pq_codebooks(X, m, nbits)
        cache[key] = B
    return B


def pq_encode(corpus: DataFrame, m: int = 4, nbits: int = 8,
              id_col='vec_id', vec_col='embedding') -> DataFrame:
    """Compress a corpus to ``(vec_id, code: binary[m])`` -- the
    representation the 100 TB tier actually stores and scans.

    At 10^12 vectors x dim-768 float32 the raw embeddings are ~3 PB;
    m=96/nbits=8 codes are 96 B/vector (~32x smaller), small enough to
    keep hot, and the ADC scan never touches the raw vectors except
    for the final re-rank pool (late-materialized by id, the same
    policy that keeps `bytes` out of the tile joins).  Encoding is one
    map pass, no shuffle."""
    B = pq_codebooks(corpus, m, nbits, id_col, vec_col)
    return corpus.select(
        F.col(id_col).alias('vec_id'),
        _pq_encode_udf(B)(F.col(vec_col)).alias('code'))


def pq_index(corpus: DataFrame, m: int = 4, nbits: int = 8,
             id_col='vec_id', vec_col='embedding') -> DataFrame:
    """Materializable PQ code table: (vec_id, _code) -- m bytes per
    vector.  Build once, persist, pass to :func:`pq_topk` via
    ``index=`` so the ADC scan reads codes without re-encoding the
    corpus per call.  (One implementation with :func:`pq_encode`;
    pq_topk's ``index=`` accepts either column name.)"""
    return pq_encode(corpus, m, nbits, id_col, vec_col) \
        .withColumnRenamed('code', '_code')


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
            m: int = 4, nbits: int = 8, rerank: int = 64,
            index: DataFrame = None,
            id_col='vec_id', vec_col='embedding',
            qid_col='query_id', qvec_col='embedding') -> DataFrame:
    """PQ approximate top-k: ADC scan over m-byte codes, exact cosine
    re-rank of the top-``rerank`` pool per query.

    The scan reads codes only (32x less IO than brute force at
    dim-768/m=96); raw vectors are late-materialized by id for the
    bounded re-rank pool.  ``rerank=0`` returns ADC scores directly
    (cos_sim is then the quantized approximation).  Output matches
    :func:`brute_force_topk`: (query_id, vec_id, cos_sim, rank),
    deterministic tie-break on vec_id.  Recall is a function of
    m/nbits/rerank; the bench measures it against the exact oracle at
    gate and at 1M-row scale.
    """
    B = pq_codebooks(corpus, m, nbits, id_col, vec_col)
    if index is not None:
        # accept a pq_index ('_code') OR a pq_encode ('code') table
        codes = index.withColumnRenamed('code', '_code') \
            if 'code' in index.columns else index
    else:
        codes = corpus.select(F.col(id_col).alias('vec_id'),
                              _pq_encode_udf(B)(F.col(vec_col))
                              .alias('_code'))
    q = queries.select(F.col(qid_col).alias('query_id'),
                       F.col(qvec_col).alias('_qvec'))
    scored = (codes.crossJoin(F.broadcast(q))
              .select('query_id', 'vec_id',
                      _pq_score_udf(B)(F.col('_code'), F.col('_qvec'))
                      .alias('_adc')))
    # malformed rows score null -- _rank_topk keeps them out of every
    # rank without re-evaluating the ADC UDF (see its docstring)
    if rerank and rerank > 0:
        pool = _rank_topk(scored, '_adc', max(rerank, k)) \
            .select('query_id', 'vec_id')
        cv = corpus.select(F.col(id_col).alias('vec_id'),
                           F.col(vec_col).alias('_cv'))
        # Broadcast the bounded pool (<= rerank x |queries| ids) so
        # the raw-vector table never shuffles -- late materialization
        # is a streamed scan + hash probe, not a corpus-wide exchange.
        exact = (cv.join(F.broadcast(pool), 'vec_id')
                 .join(F.broadcast(q), 'query_id')
                 .select('query_id', 'vec_id',
                         cosine(F.col('_cv'), F.col('_qvec'))
                         .alias('cos_sim')))
        return _rank_topk(exact, 'cos_sim', k)
    return _rank_topk(scored.withColumnRenamed('_adc', 'cos_sim'),
                      'cos_sim', k)


def ivfpq_index(corpus: DataFrame, n_cells: int = 16, m: int = 4,
                nbits: int = 8, id_col='vec_id',
                vec_col='embedding',
                train_sample: int = 8192) -> DataFrame:
    """Materializable IVF-PQ index: (vec_id, cell, _code) -- the full
    production index of a 10^12-vector corpus in ~(8 + 4 + m) bytes
    per row.  Build once, persist (or write ``partitionBy('cell')``
    for file-level probe pruning), pass to :func:`ivfpq_topk` via
    ``index=``: queries then never touch raw corpus vectors except
    the bounded re-rank pool."""
    C = _ivf_centroids(corpus, n_cells, id_col, vec_col,
                       train_sample=train_sample)
    B = pq_codebooks(corpus, m, nbits, id_col, vec_col)
    # ND per-call instance: see ivf_index.
    assign = _cell_udf(C, 1).asNondeterministic()
    return (corpus.select(F.col(id_col).alias('vec_id'),
                          F.col(vec_col).alias('_cv'))
            .select('vec_id',
                    F.element_at(assign(F.col('_cv')), 1).alias('cell'),
                    _pq_encode_udf(B)(F.col('_cv')).alias('_code')))


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
               n_cells: int = 16, nprobe: int = 4,
               m: int = 4, nbits: int = 8, rerank: int = 64,
               index: DataFrame = None,
               id_col='vec_id', vec_col='embedding',
               qid_col='query_id', qvec_col='embedding',
               target_recall: float = 0.9,
               train_sample: int = 8192) -> DataFrame:
    """IVF-PQ: the composed production shape for 10^12-vector corpora.

    The IVF coarse quantizer bounds the scan FRACTION (each query
    touches ~nprobe/n_cells of the corpus); PQ codes bound the scan
    BYTES (m bytes/vector instead of 4*dim); ADC orders the probed
    candidates; exact cosine re-ranks only the top-``rerank`` pool
    with raw vectors late-materialized by id.  The corpus side is one
    map pass producing ``(vec_id, cell, code)`` -- the only per-query
    work is the broadcast cell join + LUT gathers + the bounded
    re-rank.  No residual encoding (codes quantize the normalized
    vector itself, so one LUT per query serves every cell); with
    ``rerank`` >= the candidate count this is exactly
    :func:`ivf_topk` (pinned by tests).

    ``index``: a prebuilt (persisted) :func:`ivfpq_index` with the
    SAME n_cells/m/nbits -- skips the corpus encode pass entirely;
    the centroids/codebooks are re-fetched from the corpus memo (or
    retrained deterministically) for query-side probing/LUTs.
    """
    # train_sample MUST match the index build's (quantizer memo keys
    # on it; a mismatch probes a different quantizer than the index
    # rows were assigned under).
    C = _ivf_centroids(corpus, n_cells, id_col, vec_col,
                       train_sample=train_sample)
    B = pq_codebooks(corpus, m, nbits, id_col, vec_col)
    if nprobe == 'auto':
        nprobe = _calibrated_nprobe(corpus, C, id_col, vec_col,
                                    k=k, target=target_recall)
    probe = _cell_udf(C, min(nprobe, len(C)))
    if index is not None:
        cb = index
    else:
        # ND per-call instance: see ivf_topk -- the inferred
        # isnotnull(cell) join-key filter would re-run the assign
        # kernel over the corpus otherwise.
        assign = _cell_udf(C, 1).asNondeterministic()
        cb = (corpus.select(F.col(id_col).alias('vec_id'),
                            F.col(vec_col).alias('_cv'))
              .select('vec_id',
                      F.element_at(assign(F.col('_cv')), 1)
                      .alias('cell'),
                      _pq_encode_udf(B)(F.col('_cv')).alias('_code')))
    q = queries.select(F.col(qid_col).alias('query_id'),
                       F.col(qvec_col).alias('_qvec'))
    qb = (q.select('query_id', '_qvec',
                   F.explode(probe(F.col('_qvec'))).alias('cell')))
    scored = (cb.join(F.broadcast(qb), 'cell')
              .select('query_id', 'vec_id',
                      _pq_score_udf(B)(F.col('_code'), F.col('_qvec'))
                      .alias('_adc')))
    # null _adc handled by _rank_topk (single ADC-UDF evaluation)
    if not rerank or rerank <= 0:
        # ADC-only contract, mirroring pq_topk: rerank=0 returns the
        # approximate scores directly (no raw-vector pass at all).
        return _rank_topk(scored.withColumnRenamed('_adc', 'cos_sim'),
                          'cos_sim', k)
    pool = _rank_topk(scored, '_adc', max(rerank, k)) \
        .select('query_id', 'vec_id')
    cv = corpus.select(F.col(id_col).alias('vec_id'),
                       F.col(vec_col).alias('_cv'))
    # Bounded pool broadcast: the raw-vector table streams, never
    # shuffles (see pq_topk's re-rank note).
    exact = (cv.join(F.broadcast(pool), 'vec_id')
             .join(F.broadcast(q), 'query_id')
             .select('query_id', 'vec_id',
                     cosine(F.col('_cv'), F.col('_qvec'))
                     .alias('cos_sim')))
    return _rank_topk(exact, 'cos_sim', k)


def semdedup(corpus: DataFrame, n_cells: int = 16,
             threshold: float = 0.95, id_col='vec_id',
             vec_col='embedding',
             train_sample: int = 8192) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    cluster-then-prune.  Embeddings are assigned to their nearest
    deterministic k-means centroid (the IVF coarse quantizer --
    :func:`_ivf_centroids`, so the cluster structure is shared with
    the ANN suite and SQL-derivable); within each cluster, every pair
    with exact cosine >= ``threshold`` is a duplicate edge; edges
    close transitively (textops.connected_components) and the min-id
    representative per component is kept.

    Output: ``(vec_id, cell, rep_id, kept)`` -- one row per input
    vector; ``kept`` iff the row is its component's representative
    (singletons keep themselves).  Malformed/null vectors get a null
    cell, take no edges, and are kept; zero-norm vectors land in a
    cell (all-zero sims, tie -> lowest) but their cosine is null so
    they too take no edges and are kept.

    Scale shape: the published trade -- comparisons are bounded by
    cluster occupancy (~n/n_cells), never corpus-quadratic; n_cells
    scales with the corpus (the paper runs 50k clusters over LAION)
    so per-cell work stays constant.  The verify is ONE grouped BLAS
    pass per cell (applyInPandas): each vector rides the cell shuffle
    exactly once and only the surviving (id, id) edges leave the
    kernel -- never a per-pair vector attach (occupancy x more bytes).
    The component loop is the T16 pointer-jumping machinery: O(log
    diameter) rounds of skinny (long, long) shuffles.  Cross-cluster
    near-duplicates are missed BY DESIGN (the paper's recall trade;
    raise n_cells slower than n, or run the sign-sketch
    embedding_near_dup_pairs tier, when that matters).
    """
    from pytrs_spark.operators.textops import connected_components
    idx = ivf_index(corpus, n_cells, id_col=id_col, vec_col=vec_col,
                    train_sample=train_sample)
    cells = idx.select('vec_id', 'cell')

    # Within-cell edges via one grouped BLAS pass per cell: each
    # vector ships ONCE per cell through the cell shuffle (id + vec),
    # the kernel normalizes the cell's (occupancy x dim) block and
    # emits only pairs >= threshold from a row-chunked gram matmul.
    # The alternative -- within-cell id-pair join + per-pair vector
    # attach -- ships every vector once PER PAIR (occupancy x more
    # bytes at occupancy ~100); measured 200x traffic difference at
    # the probe scale.  Row-chunking bounds kernel memory to
    # (chunk x occupancy) so a degenerate quantizer cannot OOM a
    # task; per-cell COMPUTE is occupancy^2 * dim by construction --
    # n_cells must scale with the corpus (the paper's design).
    def cell_pairs(key, pdf):
        vals = pdf[vec_col].to_numpy()
        ok, _ = _valid_mask(vals)
        ids = pdf['vec_id'].to_numpy()[ok]
        if len(ids) < 2:
            return pd.DataFrame({'id_a': [], 'id_b': []})
        X = np.stack(vals[ok]).astype(np.float64)
        nx = np.sqrt(np.einsum('ij,ij->i', X, X))
        live = nx > 0                      # zero-norm: cosine null
        ids, X, nx = ids[live], X[live], nx[live]
        if len(ids) < 2:
            return pd.DataFrame({'id_a': [], 'id_b': []})
        X = X / nx[:, None]
        order = np.argsort(ids)
        ids, X = ids[order], X[order]
        chunk = max(1, _STACK_ELEMS // max(len(ids), 1))
        aa, bb = [], []
        for s in range(0, len(ids), chunk):
            G = X[s:s + chunk] @ X.T
            ri, ci = np.nonzero(G >= threshold)
            keep = (ri + s) < ci           # upper triangle: id_a < id_b
            aa.append(ids[ri[keep] + s])
            bb.append(ids[ci[keep]])
        return pd.DataFrame({
            'id_a': np.concatenate(aa) if aa else [],
            'id_b': np.concatenate(bb) if bb else []})

    id_type = dict(cells.dtypes)['vec_id']
    edges = (idx.filter(F.col('cell').isNotNull())
             .groupBy('cell')
             .applyInPandas(cell_pairs,
                            f'id_a {id_type}, id_b {id_type}'))
    comp = connected_components(edges).select(
        F.col('doc_id').alias('vec_id'),
        F.col('component_id').alias('_rep'))
    return (cells.join(comp, 'vec_id', 'left')
            .select('vec_id', 'cell',
                    F.coalesce('_rep', 'vec_id').alias('rep_id'),
                    (F.coalesce('_rep', 'vec_id') == F.col('vec_id'))
                    .alias('kept')))
