"""Grid-accelerated EXACT DBSCAN over the image anchor-point plane.

Engine extension (SURVEY.md §2.7 G18) -- no reference counterpart
(pyTRS has no spatial runtime).  Density clustering of image anchor
points: "group the geotagged images into hotspots, flag the isolated
ones" -- the spatial analogue of the near-dup connected-components
policy (`textops.connected_components`), and the standard first pass
before per-cluster sampling / caption-balancing a geo corpus.

Semantics (classic DBSCAN, made deterministic):

- ``N(p)`` = all points within ``eps`` of ``p`` (closed ball,
  *including p itself* -- the textbook |N_eps(p)| >= minPts count).
- core:   ``|N(p)| >= min_pts``.
- Two cores within ``eps`` are connected; clusters are the connected
  components of the core graph.  ``cluster_id`` = the smallest core
  point id in the component (min-label, no tie-breaks).
- border: non-core with >= 1 core in ``N(p)``; DBSCAN leaves the
  choice of which cluster ambiguous when several qualify -- here it
  deterministically takes the SMALLEST candidate ``cluster_id``.
- noise:  everything else (``cluster_id`` null).

Scale shape:

1. The eps-neighborhood pairs come from the radius self-join
   (`radius.py`): every point expands driver-free into its eps-ball
   cell disk (native ``cover_cells``), one equi-join on ``cell``
   co-locates candidates, and the exact test is a codegen
   squared-distance compare.  Candidate count is density-bounded
   (points per eps-cell), never all-pairs; dense-cell skew rides the
   same AQE/salt story as the PIP join.  For a big corpus pass
   ``broadcast=False`` so the disk side shuffles instead of
   broadcasting.
2. Core flags are one partial-agg count over the pair stream.
3. Components run over CORE-CORE edges only (min-label propagation +
   pointer jumping, O(log diameter) rounds, two skinny (long,long)
   shuffles per round -- `textops.connected_components`).  Uniform
   background points mostly aren't cores, so the component input is
   the clustered subset, not the corpus.
4. Border attachment is one more join against the (small) core
   cluster table.

At 10^12 points the only corpus-sized shuffles are the cell equi-join
and the count -- both skinny (id, cell) / (id, dist) rows; raw payload
columns never ride any of it.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .. import lifecycle
from ..operators.textops import connected_components
from .grid import RES_SIZE
from .radius import radius_join

DBSCAN_RES = 8


#: Above this many EXPLODED rows (points x eps-disk cells -- the
#: relation actually broadcast, not the raw point count: a wide eps
#: at fine res multiplies each point by (2*ceil(eps/size)+1)^2) the
#: eps-pair stage stops broadcasting the cell-disk side (the
#: "centers" of the self-join are the WHOLE corpus -- broadcasting it
#: is the polygon-layer trap at planetary scale) and degrades to the
#: always-correct cell equi-join.
BROADCAST_MAX_ROWS = 8_000_000


def dbscan(points: DataFrame, eps: float, min_pts: int,
           res: int = DBSCAN_RES, point_id: str = 'id',
           broadcast: bool | str = 'auto') -> DataFrame:
    """Cluster ``points`` (``(point_id, x, y)``) with exact DBSCAN.

    Returns ``(point_id, cluster_id, role)`` -- one row per input
    point; ``role`` in {'core','border','noise'}; ``cluster_id`` is
    the smallest member core id (null for noise).  The labels it
    joins to ``points`` are a checkpoint (see
    :func:`lifecycle.checkpoint` for its fault-tolerance trade-off).

    ``broadcast``: the eps-pair radius self-join can broadcast the
    cell-disk side (fastest when the corpus fits an executor) or
    shuffle both sides on the cell key (the only shape that works at
    10^12 points, since the "centers" here ARE the corpus).
    ``'auto'`` (default) counts the skinny id column once, scales it
    by the per-point disk arity, and broadcasts only under
    ``BROADCAST_MAX_ROWS`` exploded rows -- the same
    size-gated-broadcast convention as the fused-assign polygon guard
    and the jaccard bitmap-verify guard.
    """
    if min_pts < 1:
        raise ValueError(f'min_pts must be >= 1, got {min_pts}')
    if broadcast == 'auto':
        disk_arity = (2 * math.ceil(eps / RES_SIZE[res]) + 1) ** 2
        max_pts = max(1, BROADCAST_MAX_ROWS // disk_arity)
        broadcast = (points.select(point_id).limit(max_pts + 1)
                     .count() <= max_pts)
    centers = points.select(F.col(point_id).alias('_c'),
                            F.col('x').alias('cx'),
                            F.col('y').alias('cy'))
    # Directed eps-pairs (_c, point_id, dist), self-pair included
    # (dist 0 <= eps), so count(*) per _c IS |N(p)| with p counted.
    # Eager cut: the pair stream feeds three consumers (core count,
    # core graph, border attach) and the component loop re-reads its
    # edges every round -- materialize the skinny (id, id, dist) rows
    # once instead of re-running the radius join per job.
    # Project to (_c, id) BEFORE the checkpoint: localCheckpoint
    # materializes whole rows, and nothing downstream reads `dist`
    # (core counts, core graph and border attach are membership-only)
    # -- keeping it would checkpoint a third more bytes and pay the
    # sqrt for every pair.
    pairs = lifecycle.checkpoint(radius_join(
        points, centers, eps, res=res, broadcast_centers=broadcast,
        point_id=point_id, center_id='_c').select('_c', point_id))
    counts = pairs.groupBy('_c').agg(F.count(F.lit(1)).alias('_n'))
    cores = counts.filter(F.col('_n') >= min_pts).select('_c')

    # Core graph: each undirected core-core pair once (a < b, no self).
    core_edges = (pairs.filter(F.col('_c') < F.col(point_id))
                  .join(cores, '_c', 'left_semi')
                  .join(cores.withColumnRenamed('_c', point_id),
                        point_id, 'left_semi')
                  .select(F.col('_c').alias('id_a'),
                          F.col(point_id).alias('id_b')))
    comp = connected_components(core_edges)  # (doc_id, component_id)
    # Isolated cores (>= min_pts neighbors, none of them core) form
    # singleton clusters: components only covers edge endpoints.
    core_clusters = (cores.join(
        comp.withColumnRenamed('doc_id', '_c'), '_c', 'left')
        .select('_c', F.coalesce('component_id', F.col('_c'))
                .alias('cluster_id')))

    # Border: non-core whose neighborhood holds >= 1 core -> smallest
    # candidate cluster_id (deterministic where DBSCAN is ambiguous).
    border = (pairs.join(cores, '_c', 'left_anti')
              .join(core_clusters.withColumnRenamed('_c', point_id),
                    point_id)
              .groupBy('_c')
              .agg(F.min('cluster_id').alias('cluster_id')))

    # Materialize the (small: cores + borders only) label table: the
    # returned plan then carries one lineage-free table instead of the
    # core/border join tree, so every downstream action replays one
    # tiny join, not the whole graph labeling.
    labeled = lifecycle.checkpoint(
        core_clusters.withColumn('role', F.lit('core'))
        .unionByName(border.withColumn('role', F.lit('border'))))
    lifecycle.free(pairs)
    return (points.select(point_id)
            .join(labeled.withColumnRenamed('_c', point_id),
                  point_id, 'left')
            .select(point_id, 'cluster_id',
                    F.coalesce('role', F.lit('noise')).alias('role')))
