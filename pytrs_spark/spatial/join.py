"""Spatial join: cell-index equi-join + exact even-odd ray cast +
deterministic tile assignment, all in :func:`assign_tiles_fused`.

Plan shape:

1. polygon layer -> per-vertex ring columns ``_rx{k}`` / ``_ry{k}``
   (rings shorter than the layer's longest are padded with their first
   vertex) -> explode covering cells at the join resolution.
2. images -> narrow projection (no ``bytes``) -> equi join on
   ``cell``.
3. exact point-in-polygon: the even-odd ray cast unrolled into native
   codegen expressions over the ring columns (:func:`_ray_cast_expr`;
   for half-open axis-aligned boxes the crossing rule is exact and
   deterministic on shared edges).
4. tile assignment: the lexicographically smallest ``(trs, qq)`` among
   an image's containing polygons wins.

Two join strategies:

- **broadcast** (default): the layer is collected once into a
  broadcast ``(cell, pid, ring)`` index.  No image-side exchange, so a
  dense cell cannot skew it.
- **shuffle** (``salt > 0``, or a layer whose size estimate exceeds
  the prep cap): the index is built natively and never collected, and
  both sides meet in a sort-merge join on ``cell``.  With salt S,
  images carry ``salt = pmod(xxhash64(image_id), S)`` and the index is
  exploded x S, so one hot cell spreads over S shuffle partitions.
"""

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .grid import cover_cells

JOIN_RES = 9   # 0.25 mi cells == depth-2 QQ size: ~1 candidate/point


def _bboxes_disjoint(xmin, ymin, xmax, ymax) -> bool:
    """True iff no two half-open boxes ``[xmin, xmax) x [ymin, ymax)``
    intersect.  Sweep over x-sorted boxes: a later box can only
    intersect box *i* while its xmin < xmax[i] (and sortedness already
    gives xmin[i] < xmax[j]), so only the y-interval test remains.

    O(n log n + candidates) for grid-like layers (the PLSS case);
    degenerate fully-x-nested layers cost O(n^2) comparisons -- still
    driver-side, one-time, and memoized with the rest of the polygon
    prep.  bbox disjointness is a *conservative* witness for PIP
    disjointness: the even-odd region of a ring is contained in its
    closed bbox, and the strict-inequality crossing rule (``px <
    xint``) never claims a point for a polygon whose bbox lies
    entirely at or left of it, so bbox-disjoint layers assign every
    point to at most one polygon.
    """
    order = np.argsort(xmin, kind='stable')
    xs = xmin[order]
    n = len(xs)
    for idx in range(n):
        i = order[idx]
        hi = np.searchsorted(xs, xmax[i], side='left')
        js = order[idx + 1:hi]
        if len(js) and ((ymin[js] < ymax[i])
                        & (ymin[i] < ymax[js])).any():
            return False
    return True


def _ray_cast_expr(m: int, xc, yc):
    """The exact even-odd ray cast, unrolled into NATIVE whole-stage-
    codegen expressions over per-vertex scalar columns ``_rx{k}`` /
    ``_ry{k}``, ``k < m``.  Edge k runs (v[k], v[(k+1) % m]); a ring
    padded with its first vertex adds only degenerate (v0, v0) edges,
    which never cross, so the cast is exact for any vertex count.

    The division is guarded by ``when(y2 != y1, ...)`` because Spark
    4 runs ANSI by default (division by zero raises); a crossing edge
    always has ``y2 != y1``, and ``crosses & (xc < NULL)`` is false
    when ``crosses`` is false, so the guard never changes the
    predicate's value.
    """
    inside = F.lit(False)
    for k in range(m):
        x1, y1 = F.col(f'_rx{k}'), F.col(f'_ry{k}')
        x2 = F.col(f'_rx{(k + 1) % m}')
        y2 = F.col(f'_ry{(k + 1) % m}')
        crosses = (y1 > yc) != (y2 > yc)
        xint = F.when(
            y2 != y1, (x2 - x1) * (yc - y1) / (y2 - y1) + x1)
        inside = inside != (crosses & (xc < xint))
    return inside


# Driver-side polygon prep is a broadcast-index build: fine for a
# bench-scale QQ layer (~37k rows, a few MB) but a continental PLSS
# extent is 10^7-10^8 polygons x ring arrays -- a multi-GB driver
# materialization.  Above this cap the layer is never collected and
# the shuffle strategy runs instead.  Same 64 MB convention as the
# bitmap-verify gate in textops.py.
FUSED_PREP_MAX_BYTES = 64 << 20


def _layer_stats(polygons: DataFrame, memo: dict) -> tuple:
    """``(rows, size estimate in bytes, longest ring)`` of the layer:
    one skinny agg job, memoized with the prep, so the size decision
    never collects the layer itself."""
    stats = memo.get('stats')
    if stats is None:
        r = polygons.agg(
            F.count('*').alias('n'),
            F.avg(F.size('ring_xs')).alias('m'),
            F.max(F.size('ring_xs')).alias('max_m')).collect()[0]
        # rows x (2 ring arrays x avg arity x 8 B + bbox/keys overhead)
        est_bytes = int(r['n'] * (16.0 * float(r['m'] or 0.0) + 96.0))
        stats = memo['stats'] = (r['n'], est_bytes, r['max_m'] or 0)
    return stats


def _broadcast_prep(polygons: DataFrame, res: int) -> tuple:
    """Collect the layer once into ``(max_m, disjoint, index, dim)``:
    the cached ``(pid, _rx*/_ry*, cell)`` index, the cached
    ``(pid, trs, qq)`` dim, and whether the bboxes are pairwise
    disjoint.  ``pid`` numbers polygons in ``(trs, qq)`` order, so the
    tie-break is ``min(pid)``."""
    spark = polygons.sparkSession
    pdf = (polygons.select('trs', 'qq', 'xmin', 'ymin',
                           'xmax', 'ymax', 'ring_xs', 'ring_ys')
           .toPandas().sort_values(['trs', 'qq'])
           .reset_index(drop=True))
    n_poly = len(pdf)
    max_m = int(pdf['ring_xs'].map(len).max())
    # Pad each ring with its first vertex (see _ray_cast_expr).
    rxs = np.empty((n_poly, max_m), dtype=np.float64)
    rys = np.empty((n_poly, max_m), dtype=np.float64)
    for i, (vx, vy) in enumerate(zip(pdf['ring_xs'], pdf['ring_ys'])):
        m = len(vx)
        rxs[i, :m] = vx
        rys[i, :m] = vy
        rxs[i, m:] = vx[0]
        rys[i, m:] = vy[0]
    # A layer whose bboxes are pairwise disjoint (the common case: a
    # tiling -- PLSS aliquot tiles partition the plane) assigns every
    # point to AT MOST ONE polygon, so the min-pid winner reduction is
    # the identity.  Verified, never assumed.
    disjoint = _bboxes_disjoint(
        pdf['xmin'].to_numpy(), pdf['ymin'].to_numpy(),
        pdf['xmax'].to_numpy(), pdf['ymax'].to_numpy())
    # The index carries the ring vertices as per-vertex SCALAR columns
    # so the native ray cast reads plain doubles (no array allocation
    # per candidate row); it stays bounded -- O(polygons x cover
    # cells) rows.
    ring_cols = {}
    for k in range(max_m):
        ring_cols[f'_rx{k}'] = rxs[:, k]
        ring_cols[f'_ry{k}'] = rys[:, k]
    bbox = spark.createDataFrame(
        pdf[['xmin', 'ymin', 'xmax', 'ymax']].assign(
            pid=np.arange(n_poly, dtype=np.int64), **ring_cols),
        'xmin double, ymin double, xmax double, ymax double, pid long'
        + ''.join(f', _rx{k} double, _ry{k} double'
                  for k in range(max_m)))
    index = bbox.select(
        F.col('pid').cast('int').alias('pid'),
        *ring_cols,
        F.explode(cover_cells(
            F.col('xmin'), F.col('ymin'), F.col('xmax'),
            F.col('ymax'), res)).alias('cell')).cache()
    index.count()
    dim = spark.createDataFrame(
        pdf[['trs', 'qq']].assign(pid=np.arange(n_poly, dtype=np.int64)),
        'trs string, qq string, pid long') \
        .select(F.col('pid').cast('int').alias('pid'),
                'trs', 'qq').cache()
    dim.count()
    return max_m, disjoint, index, dim


def _min_pid_kernel(n_out: int):
    """``mapInArrow`` kernel for overlapping layers: the min-pid row
    per image, as its first ``n_out`` columns plus ``pid``.

    Each image's candidates arrive as consecutive rows (one probe row
    per image, and a broadcast hash join emits a probe row's matches
    together), possibly split across batches, so one carried row per
    task bridges batch boundaries."""
    def reduce_min_pid(batches):
        # Arrow-native: value buffers are sliced/taken, never
        # converted to Python objects.
        #
        # DEADLOCK-PROOF SHAPE: consume every input batch BEFORE
        # yielding any output.  With output interleaved per-batch,
        # both directions of the worker socket can fill at once
        # (python blocked in sendmsg on ~4 MB of unread output while
        # the JVM task thread blocks pushing input) -- observed as a
        # hard deadlock at 96M rows.  Winners are ~1 row per image,
        # so the accumulator is bounded by the task's input slice
        # (maxPartitionBytes), not by the corpus.
        import pyarrow as pa
        import pyarrow.compute as pc

        acc = []                    # winner RecordBatches
        schema_pa = None
        carry_id = None             # image_id of the open run
        carry_pid = None            # its best pid so far
        carry_vals = None           # python values of that winner row

        def acc_carry():
            arrs = [pa.array([v], type=schema_pa.field(i).type)
                    for i, v in enumerate(carry_vals)]
            arrs.append(pa.array([carry_pid], type=pa.int32()))
            acc.append(pa.record_batch(arrs, schema=schema_pa))

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            if schema_pa is None:
                schema_pa = pa.schema(
                    [b.schema.field(i) for i in range(n_out)]
                    + [pa.field('pid', pa.int32())])
            ids = b.column(0)
            pids = b.column(n_out).to_numpy(zero_copy_only=False)
            if carry_id is not None and ids[0].as_py() != carry_id:
                acc_carry()
                carry_id = None
            # consecutive-id run boundaries, computed on the Arrow
            # buffers (C-level compare, no objects)
            new = np.empty(n, dtype=bool)
            new[0] = True
            if n > 1:
                new[1:] = pc.not_equal(ids.slice(1), ids.slice(0, n - 1)) \
                    .to_numpy(zero_copy_only=False)
            run_ix = np.cumsum(new) - 1
            # winner per run = row with min pid: lexsort by (run, pid),
            # take the first row of each run group.
            order = np.lexsort((pids, run_ix))
            run_sorted = run_ix[order]
            lead = np.empty(n, dtype=bool)
            lead[0] = True
            lead[1:] = run_sorted[1:] != run_sorted[:-1]
            win = order[lead]               # row index, in run order
            win_pids = pids[win]

            def row_vals(ri):
                return tuple(b.column(c)[ri].as_py()
                             for c in range(n_out))

            lo, hi = 0, len(win)
            if carry_id is not None:
                # the head run continues the carried image
                if win_pids[0] < carry_pid:
                    carry_pid = int(win_pids[0])
                    carry_vals = row_vals(int(win[0]))
                lo = 1
            if hi > lo:
                # a new image ends the batch: the carry is complete,
                # and the tail run (which may continue in the next
                # batch) becomes the carry
                if carry_id is not None:
                    acc_carry()
                hi -= 1
                carry_id = ids[n - 1].as_py()
                carry_pid = int(win_pids[hi])
                carry_vals = row_vals(int(win[hi]))
            if hi > lo:
                sel = pa.array(win[lo:hi])
                arrs = [pc.take(b.column(c), sel) for c in range(n_out)]
                arrs.append(pa.array(win_pids[lo:hi].astype(np.int32),
                                     type=pa.int32()))
                acc.append(pa.record_batch(arrs, schema=schema_pa))
        if carry_id is not None:
            acc_carry()

        # Input exhausted -- now stream the winners out in bounded
        # chunks (the JVM is purely reading at this point).
        if acc:
            table = pa.Table.from_batches(acc)
            for ob in table.combine_chunks().to_batches(
                    max_chunksize=65536):
                yield ob

    return reduce_min_pid


def _shuffle_assign(pts: DataFrame, polygons: DataFrame, res: int,
                    salt: int, max_m: int, payload_cols: tuple
                    ) -> DataFrame:
    """The shuffle strategy: the padded ring index is built natively
    from ``polygons`` (never collected), joined to the images by a
    sort-merge join on ``cell`` (plus ``salt``), and reduced with
    ``min(struct(trs, qq, *payload_cols))``.  The aggregate groups by
    the join keys plus ``image_id`` -- the same groups, since an
    image has one cell and one salt -- so the join's hash
    partitioning already satisfies it and no second exchange runs."""
    ring_cols = []
    for k in range(max_m):
        for axis in 'xy':
            ring = F.col(f'ring_{axis}s')
            ring_cols.append(F.coalesce(
                F.try_element_at(ring, F.lit(k + 1)),
                F.try_element_at(ring, F.lit(1))).alias(f'_r{axis}{k}'))
    index = polygons.select(
        'trs', 'qq', *ring_cols,
        F.explode(cover_cells(
            F.col('xmin'), F.col('ymin'), F.col('xmax'),
            F.col('ymax'), res)).alias('cell'))
    keys = ['cell']
    if salt > 0:
        keys.append('salt')
        pts = pts.withColumn(
            'salt', F.pmod(F.xxhash64('image_id'), F.lit(salt)))
        index = index.withColumn('salt', F.explode(
            F.sequence(F.lit(0), F.lit(salt - 1)).cast('array<long>')))
    best = F.min(F.struct('trs', 'qq', *payload_cols)).alias('_best')
    # The merge hint keeps the planner (and AQE) from turning a small
    # index into a broadcast, which would drop the exchange the salt
    # spreads.
    return (pts.join(index.hint('merge'), keys)
            .filter(_ray_cast_expr(max_m, F.col('x'), F.col('y')))
            .groupBy(*keys, 'image_id').agg(best)
            .select('image_id', *[F.col('_best')[c].alias(c)
                                  for c in (*payload_cols, 'trs', 'qq')]))


def assign_tiles_fused(points: DataFrame, polygons: DataFrame,
                       res: int = JOIN_RES, salt: int = 0,
                       payload_cols=('caption', 'x', 'y'),
                       max_prep_bytes: int = FUSED_PREP_MAX_BYTES
                       ) -> DataFrame:
    """The tile assignment: cell join + exact native ray cast + one
    deterministic tile per image, the smallest ``(trs, qq)`` whose
    polygon contains the image's anchor.  Images inside no polygon get
    no row.  Output: ``image_id, *payload_cols, trs, qq``.

    ``points`` need ``image_id``, ``x``, ``y``, ``cell{res}`` and the
    payload columns; ``polygons`` need ``trs, qq``, the bbox and the
    ``ring_xs`` / ``ring_ys`` vertex arrays.  ``payload_cols`` (default
    the caption and anchor) ride along only when the caller wants them
    -- late materialization, the same policy that keeps ``bytes`` out
    of the join path.  Pass ``()`` for the pure assignment.

    Two join strategies (see the module docstring):

    - **Shuffle**, when ``salt > 0`` or the layer's size estimate (one
      skinny agg job) exceeds ``max_prep_bytes``: a sort-merge join on
      ``(cell[, salt])`` and a ``min(struct)`` winner aggregate that
      reuses the join's partitioning.  No Python stage.
    - **Broadcast**, otherwise.  The layer is collected once (memoized
      on the ``polygons`` DataFrame: build the dim index once, stream
      images against it forever) into a broadcast ``(cell, pid,
      ring)`` index and a ``(pid, trs, qq)`` dim.  Two tiers, picked
      from verified properties of the collected layer:

      1. **Pairwise-disjoint bboxes** (a tiling, e.g. PLSS aliquot
         tiles): every image matches at most one polygon, so the
         winner reduction is the identity and the whole assignment is
         JVM-native -- no Python stage, hence none of the
         worker-socket bandwidth ceiling the 96M probes measured
         (BENCH.md).
      2. **Overlapping polygons**: a ``mapInArrow`` kernel reduces
         min-pid per image over the surviving candidate rows.  The
         crossing carries an int32 ``pid`` plus the requested payload
         (the ray cast already ran natively), and the winner's
         ``(trs, qq)`` attach JVM-side via a broadcast join against
         the dim.
    """
    payload_cols = tuple(payload_cols)
    dt = dict(points.dtypes)
    # x/y always feed the ray cast but only reach the output when the
    # caller asked for them.
    extra_xy = [c for c in ('x', 'y') if c not in payload_cols]
    pts = points.select('image_id', *payload_cols, *extra_xy,
                        F.col(f'cell{res}').alias('cell'))
    key_schema = [f"image_id {dt['image_id']}"] \
        + [f'{c} {dt[c]}' for c in payload_cols]

    memo = getattr(polygons, '_fused_prep', None)
    if memo is None:
        memo = polygons._fused_prep = {}
    n_poly, est_bytes, max_m = _layer_stats(polygons, memo)
    if not n_poly:
        return points.sparkSession.createDataFrame(
            [], ', '.join(key_schema + ['trs string', 'qq string']))
    if salt > 0 or est_bytes > max_prep_bytes:
        return _shuffle_assign(pts, polygons, res, salt, max_m,
                               payload_cols)

    prep = memo.get(res)
    if prep is None:
        prep = memo[res] = _broadcast_prep(polygons, res)
    max_m, disjoint, index, dim = prep
    cand = pts.join(F.broadcast(index), 'cell') \
        .filter(_ray_cast_expr(max_m, F.col('x'), F.col('y'))) \
        .select('image_id', *payload_cols, 'pid')
    if not disjoint:
        cand = cand.mapInArrow(_min_pid_kernel(1 + len(payload_cols)),
                               schema=', '.join(key_schema + ['pid int']))
    return cand.join(F.broadcast(dim), 'pid') \
        .select('image_id', *payload_cols, 'trs', 'qq')


def cell_histogram(points: DataFrame, res: int = JOIN_RES) -> DataFrame:
    """Pre-pass skew histogram: images per cell (used to pick the salt
    factor; map-side combined by Catalyst)."""
    return points.groupBy(f'cell{res}').count()


def pick_salt_factor(points: DataFrame, res: int = JOIN_RES,
                     target_per_task: int = 500_000) -> int:
    """Choose S from the measured histogram: hottest cell divided by
    the per-task target, capped sanely."""
    hot = cell_histogram(points, res).agg(F.max('count')).first()[0] or 0
    if hot <= target_per_task:
        return 0
    # ceil, not floor: floor leaves the hottest cell at up to 2x the
    # target per task, and returns 1 (salt engaged, nothing spread --
    # pmod(h, 1) == 0) for hot counts in [target, 2*target).
    return int(min(64, -(-hot // target_per_task)))
