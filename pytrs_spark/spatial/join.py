"""Spatial join: cell-index equi-join + exact even-odd ray cast +
deterministic tile assignment, all in :func:`assign_tiles_fused`.

Plan shape:

1. polygon layer -> the native cell index: ``trs, qq``, per-vertex
   ring columns ``_rx{k}`` / ``_ry{k}`` (rings shorter than the
   layer's longest are padded with their first vertex) and one row per
   covering cell at the join resolution.
2. images -> narrow projection (no ``bytes``) -> equi join on
   ``cell``.
3. exact point-in-polygon: the even-odd ray cast unrolled into native
   codegen expressions over the ring columns (:func:`_ray_cast_expr`;
   for half-open axis-aligned boxes the crossing rule is exact and
   deterministic on shared edges).
4. tile assignment: the lexicographically smallest ``(trs, qq)`` among
   an image's containing polygons wins, through one native
   ``min(struct(trs, qq, *payload))`` aggregate.  When no cell holds
   more than one polygon (K == 1) an image has at most one candidate,
   so the aggregate is skipped.

Both join strategies use that index and that winner; they differ only
in the join hint:

- **broadcast** (default): the index is collected once and broadcast.
  No image-side exchange, so a dense cell cannot skew it.
- **shuffle** (``salt > 0``, or an index whose size estimate exceeds
  the prep cap): the index is never collected, and both sides meet in
  a ``merge``-hinted sort-merge join on ``cell``.  With salt S, images
  carry ``salt = pmod(xxhash64(image_id), S)`` and the index is
  exploded x S, so one hot cell spreads over S shuffle partitions.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .grid import cover_cells

JOIN_RES = 9   # 0.25 mi cells == depth-2 QQ size: ~1 candidate/point


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


# The broadcast index is collected to the driver: fine for a
# bench-scale QQ layer (~37k rows, a few MB) but a continental PLSS
# extent is 10^7-10^8 polygons x ring columns -- a multi-GB driver
# materialization.  Above this cap the index is never collected and
# the shuffle strategy runs instead.  Same 64 MB convention as the
# bitmap-verify gate in textops.py.
FUSED_PREP_MAX_BYTES = 64 << 20


def _cells(res: int):
    """One row per cell covering the polygon's bbox at ``res``."""
    return F.explode(cover_cells(
        F.col('xmin'), F.col('ymin'), F.col('xmax'), F.col('ymax'),
        res)).alias('cell')


def _layer_stats(polygons: DataFrame, memo: dict, res: int) -> tuple:
    """``(index rows, size estimate in bytes, longest ring, K)`` of the
    layer's cell index at ``res``, K being the most polygons any one
    cell holds: one skinny agg job, memoized per ``res`` under
    ``'stats'``, so neither the size decision nor K collects the layer
    itself."""
    stats = memo.setdefault('stats', {})
    if res not in stats:
        r = (polygons.select(F.size('ring_xs').alias('m'), _cells(res))
             .groupBy('cell')
             .agg(F.count('*').alias('k'), F.max('m').alias('m'))
             .agg(F.sum('k').alias('n'), F.max('m').alias('max_m'),
                  F.max('k').alias('k'))
             .collect()[0])
        n, max_m = r['n'] or 0, r['max_m'] or 0
        # rows x (2 padded ring columns x 8 B + keys/cell overhead)
        stats[res] = (n, n * (16 * max_m + 96), max_m, r['k'] or 0)
    return stats[res]


def _cell_index(polygons: DataFrame, res: int, max_m: int) -> DataFrame:
    """``trs, qq, _rx*/_ry*, cell``: each ring padded to ``max_m``
    vertices with its first one (see :func:`_ray_cast_expr`) as
    scalar columns, so the ray cast reads plain doubles, and one row
    per covering cell -- O(polygons x cover cells) rows."""
    ring_cols = []
    for k in range(max_m):
        for axis in 'xy':
            ring = F.col(f'ring_{axis}s')
            ring_cols.append(F.coalesce(
                F.try_element_at(ring, F.lit(k + 1)),
                F.try_element_at(ring, F.lit(1))).alias(f'_r{axis}{k}'))
    return polygons.select('trs', 'qq', *ring_cols, _cells(res))


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
    of the join path.  Pass ``()`` for the pure assignment.  Payload
    columns must be orderable: the winner is ``min(struct(trs, qq,
    *payload_cols))``.

    One skinny agg job, memoized on the ``polygons`` DataFrame, gives
    the index size estimate, the longest ring and K, the most polygons
    any cell holds.  One winner: the ``min(struct)`` aggregate grouped
    by the join keys plus ``image_id`` (the same groups, since an image
    has one cell and one salt), skipped when K == 1 -- then every
    image has at most one candidate, so every match is a winner.  Two
    hints (see the module docstring):

    - **Shuffle**, when ``salt > 0`` or the size estimate exceeds
      ``max_prep_bytes``: ``merge`` on ``(cell[, salt])``; the
      aggregate reuses the join's hash partitioning, so no second
      exchange runs.
    - **Broadcast**, otherwise.  The index is collected once (memoized
      on ``polygons``: build it once, stream images against it
      forever) and re-created from Arrow, so its plan is a leaf, not
      the layer's build.

    No Python stage on either strategy.
    """
    payload_cols = tuple(payload_cols)
    dt = dict(points.dtypes)
    # x/y always feed the ray cast but only reach the output when the
    # caller asked for them.
    extra_xy = [c for c in ('x', 'y') if c not in payload_cols]
    pts = points.select('image_id', *payload_cols, *extra_xy,
                        F.col(f'cell{res}').alias('cell'))

    memo = getattr(polygons, '_fused_prep', None)
    if memo is None:
        memo = polygons._fused_prep = {}
    n_rows, est_bytes, max_m, k = _layer_stats(polygons, memo, res)
    if not n_rows:
        return points.sparkSession.createDataFrame([], ', '.join(
            [f'{c} {dt[c]}' for c in ('image_id', *payload_cols)]
            + ['trs string', 'qq string']))
    keys = ['cell']
    if salt > 0 or est_bytes > max_prep_bytes:
        index = _cell_index(polygons, res, max_m)
        if salt > 0:
            keys.append('salt')
            pts = pts.withColumn(
                'salt', F.pmod(F.xxhash64('image_id'), F.lit(salt)))
            index = index.withColumn('salt', F.explode(
                F.sequence(F.lit(0), F.lit(salt - 1)).cast('array<long>')))
        # The merge hint keeps the planner (and AQE) from turning a
        # small index into a broadcast, which would drop the exchange
        # the salt spreads.
        index = index.hint('merge')
    else:
        if res not in memo:
            # Collected and re-created from Arrow rather than cached in
            # place: a cached plan keeps the layer's build (the parse
            # UDF included) under every assignment's plan.
            spark = polygons.sparkSession
            memo[res] = spark.createDataFrame(
                _cell_index(polygons, res, max_m).toArrow()).cache()
            memo[res].count()
        index = F.broadcast(memo[res])
    cand = pts.join(index, keys) \
        .filter(_ray_cast_expr(max_m, F.col('x'), F.col('y')))
    if k == 1:
        return cand.select('image_id', *payload_cols, 'trs', 'qq')
    best = F.min(F.struct('trs', 'qq', *payload_cols)).alias('_best')
    return (cand.groupBy(*keys, 'image_id').agg(best)
            .select('image_id', *[F.col('_best')[c].alias(c)
                                  for c in (*payload_cols, 'trs', 'qq')]))


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
