"""kNN to section corners via sorted-cell-neighbour ring expansion.

Section corners form the integer-mile lattice over the covered domain.
Rather than an all-pairs cross join, each point considers only the
corners in the Chebyshev ring of its 1-mile cell, with the ring radius
growing adaptively until every point has its k neighbours *provably*
correct:

    a candidate set found within ring radius r is final once the
    k-th candidate's distance <= r -- because any corner outside the
    ring is strictly farther than r (ring-safety margin).

The per-point candidate set is a bounded array ((2r+2)^2 entries), so
the whole top-k is **map-side** work: a vectorized numpy kernel inside
an Arrow-batched pandas UDF builds the (batch, ring^2) distance matrix
by broadcasting, masks corners outside the lattice (a closed-form
range check, not a lookup), and row-sorts a structured array on
(d2, cx, cy) -- the deterministic tie-break.  No shuffle, no window,
no join.  This is the plan that survives 10^12 points: embarrassingly
parallel over whatever partitioning the input already has.  (A pure
native-column formulation with transform/filter/array_sort was ~10x
slower: lambda higher-order functions evaluate interpreted, outside
whole-stage codegen.  A lambda-FREE unroll -- CreateArray of 36
plain structs + default-ordering array_sort + slice, the trick that
made the tile ray cast native -- was ALSO measured ~3x slower than
this kernel (A/B at 600k rows, round 3): CreateArray-of-struct and
array_sort are non-codegen expressions, so 21.6M boxed struct
allocations per 600k rows beat the Arrow crossing's cost.  The
native-tier rule of thumb: scalar comparisons unroll well, per-row
ARRAY construction does not.)

Points that fail the safety guarantee at radius r (possible only for
k > 4 or clipped domain edges) re-enter at r+1; for k <= 4 every point
is provably safe at r = 2 (the 4 cell corners are within sqrt(2)), so
the loop runs once.  Pattern per the sorted-neighbour expansion in the
stream-kNN literature (PAPERS.md, SIGMOD'21).
"""

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import lifecycle
from ..datagen import X0, X1, Y0, Y1


_TOPK_RESULT = T.StructType([
    T.StructField('topk', T.ArrayType(T.StructType([
        T.StructField('d2', T.DoubleType()),
        T.StructField('cx', T.DoubleType()),
        T.StructField('cy', T.DoubleType()),
    ]))),
    T.StructField('safe', T.BooleanType()),
])


def _topk_udf(k: int, radius: int):
    @F.pandas_udf(_TOPK_RESULT)
    def udf(xs: pd.Series, ys: pd.Series) -> pd.DataFrame:
        x = xs.to_numpy(dtype=np.float64)
        y = ys.to_numpy(dtype=np.float64)
        n = len(x)
        fin = np.isfinite(x) & np.isfinite(y)
        offs = np.arange(-radius, radius + 2, dtype=np.float64)
        m = len(offs)
        # Base cell CLAMPED into the lattice: out-of-domain points get
        # a window anchored at the nearest boundary cell, which always
        # contains their true nearest corners (all corners lie on the
        # clamped side).
        with np.errstate(invalid='ignore'):
            bx = np.clip(np.floor(x), X0, X1 - 1)
            by = np.clip(np.floor(y), Y0, Y1 - 1)
        bx = np.where(fin, bx, X0)
        by = np.where(fin, by, Y0)
        # Candidate lattice (n, m, m) by broadcasting; flatten to
        # (n, m*m).
        cx = (bx[:, None] + offs[None, :])                   # (n, m)
        cy = (by[:, None] + offs[None, :])                   # (n, m)
        dx2 = (x[:, None] - cx) ** 2                         # (n, m)
        dy2 = (y[:, None] - cy) ** 2                         # (n, m)
        d2 = (dx2[:, :, None] + dy2[:, None, :]).reshape(n, m * m)
        cxf = np.broadcast_to(cx[:, :, None], (n, m, m)).reshape(n, m * m)
        cyf = np.broadcast_to(cy[:, None, :], (n, m, m)).reshape(n, m * m)
        # Lattice membership: closed-form domain range check;
        # non-finite inputs have no candidates at all.
        invalid = ((cxf < X0) | (cxf > X1) | (cyf < Y0) | (cyf > Y1)
                   | ~fin[:, None])
        rec = np.empty((n, m * m), dtype=[('d2', 'f8'), ('cx', 'f8'),
                                          ('cy', 'f8')])
        rec['d2'] = np.where(invalid, np.inf, d2)
        rec['cx'] = cxf
        rec['cy'] = cyf
        rec.sort(axis=1, order=['d2', 'cx', 'cy'])
        top = rec[:, :k]
        n_valid = (~invalid).sum(axis=1)
        # Safety: every corner OUTSIDE the window is outside in x or in
        # y; an x-outside corner is at least gap_x away in x (infinite
        # when the window already reaches that domain edge -- no such
        # corner exists) and at least the best valid in-window y-offset
        # away in y.  The k-th candidate is final once it beats that
        # lower bound.  (Strictly tighter than the plain kth <= r^2
        # ring test, and it converges for clamped out-of-domain points,
        # whose in-window gap grows with their offset.)
        col_invalid = (cx < X0) | (cx > X1)
        row_invalid = (cy < Y0) | (cy > Y1)
        bdx2 = np.where(col_invalid, np.inf, dx2).min(axis=1)
        bdy2 = np.where(row_invalid, np.inf, dy2).min(axis=1)
        gap_x_lo = np.where(bx - radius <= X0, np.inf, x - (bx - radius))
        gap_x_hi = np.where(bx + radius + 1 >= X1, np.inf,
                            (bx + radius + 1) - x)
        gap_y_lo = np.where(by - radius <= Y0, np.inf, y - (by - radius))
        gap_y_hi = np.where(by + radius + 1 >= Y1, np.inf,
                            (by + radius + 1) - y)
        gx2 = np.minimum(gap_x_lo, gap_x_hi) ** 2
        gy2 = np.minimum(gap_y_lo, gap_y_hi) ** 2
        bound = np.minimum(gx2 + bdy2, gy2 + bdx2)
        with np.errstate(invalid='ignore'):
            # kk clamps the safety probe for k > window capacity
            # ((2r+2)^2 candidates): such rows are already unsafe via
            # n_valid >= k, and the raw [:, k-1] index would throw
            # inside the task instead of letting the radius grow.
            kk = min(k, top.shape[1])
            safe = fin & (n_valid >= k) & (top['d2'][:, kk - 1] <= bound)
        topk_col = [
            [(float(r['d2']), float(r['cx']), float(r['cy']))
             for r in row[:min(k, nv)]]
            for row, nv in zip(top, n_valid)
        ]
        return pd.DataFrame({'topk': topk_col, 'safe': safe})
    return udf


def _topk_at_radius(pts: DataFrame, k: int, radius: int) -> DataFrame:
    """Add ``_topk`` (array of (d2, cx, cy), len <= k, sorted) and
    ``_safe`` columns for one ring radius."""
    # asNondeterministic: the `_safe` filter right above this node
    # otherwise gets pushed below the projection and the optimizer
    # duplicates the whole kernel into a second ArrowEvalPython
    # (guide 4.4 -- the ann_topk pathology; the knn_corners plan
    # showed the kernel evaluated twice per row).  The kernel is
    # pure; ND only forbids Catalyst from reordering/duplicating it.
    res = _topk_udf(k, radius).asNondeterministic()(F.col('x'), F.col('y'))
    return pts.withColumn('_r', res) \
        .withColumn('_topk', F.col('_r')['topk']) \
        .withColumn('_safe', F.col('_r')['safe']).drop('_r')


def knn_section_corners(points: DataFrame, k: int = 4,
                        max_radius: int = 8,
                        on_unresolved: str = 'drop') -> DataFrame:
    """k nearest corners per point.  Input needs image_id + phash (or
    precomputed x/y); output (image_id, rank, cx, cy, dist2).

    Deterministic tie-break: (dist2, cx, cy).

    Every point with finite coordinates gets an answer: the candidate
    window clamps to the lattice, so out-of-domain points resolve to
    their true nearest boundary corners (for k <= 4 provably within
    the first radius -- the 4 best corners sit in the clamped 2x2
    block or the boundary column/row, all inside the r=2 window, and
    the gap-based safety bound certifies it).  Non-finite coordinates
    have no defined neighbours and are dropped (``on_unresolved=
    'drop'``, the default) or raise (``'error'``, costs one extra
    count job); same handling for k > 4 points still unsafe past
    ``max_radius``.

    For k <= 4 the output is a lazy plan.  For k > 4 each round's
    finished part is a checkpoint (see :func:`lifecycle.checkpoint`
    for its fault-tolerance trade-off).
    """
    from .grid import anchor_xy

    if 'x' not in points.columns:
        x, y = anchor_xy(F.col('phash'))
        pts = points.select('image_id', x.alias('x'), y.alias('y'))
    else:
        pts = points.select('image_id', 'x', 'y')

    # Smallest radius that can possibly satisfy the safety margin for
    # k corners -- for k <= 4 every finite point is provably safe at
    # r=2 (see docstring), so the loop runs once.
    if max_radius < 2:
        raise ValueError(
            f'max_radius must be >= 2 (the starting ring), '
            f'got {max_radius}')
    radius = 2
    finished = []
    remaining = pts
    with lifecycle.scope() as s:
        while radius <= max_radius:
            staged = _topk_at_radius(remaining, k, radius)
            # k <= 4 is provably complete at the first radius for
            # every finite point -- no probe, no materialization, loop
            # runs once; the only rows left behind are non-finite,
            # handled below.
            if k <= 4 and radius == 2:
                finished.append(staged.filter('_safe'))
                remaining = staged.filter('NOT _safe') \
                    .select('image_id', 'x', 'y')
                break
            # `staged` is persisted so the round's kernel runs ONCE
            # (three consumers below).  The safe part is a checkpoint,
            # so the output needs none of this round's blocks; the
            # remainder is persisted and fully materialized (count,
            # not isEmpty: isEmpty stops at the first non-empty
            # partition and would leave holes that recompute through
            # freed ancestors), after which `staged` and the previous
            # remainder are freed.
            staged = s.persisted(staged)
            finished.append(lifecycle.checkpoint(staged.filter('_safe')))
            nxt = s.persisted(staged.filter('NOT _safe')
                              .select('image_id', 'x', 'y'))
            n_remaining = nxt.count()
            s.free(staged)
            s.free(remaining)
            remaining = nxt
            if n_remaining == 0:
                break
            radius += 1

        if on_unresolved == 'error':
            n_left = remaining.count()
            if n_left:
                raise ValueError(
                    f'knn_section_corners: {n_left} rows unresolved '
                    f'(non-finite coords, or k={k} unsafe past radius '
                    f'{max_radius})')

    out = finished[0]
    for part in finished[1:]:
        out = out.unionByName(part)
    return out.select(
        'image_id',
        F.posexplode('_topk').alias('_pos', '_c')
    ).select(
        'image_id',
        (F.col('_pos') + 1).alias('rank'),
        F.col('_c')['cx'].alias('cx'),
        F.col('_c')['cy'].alias('cy'),
        F.col('_c')['d2'].alias('dist2'),
    )
