"""Hierarchical tile rollups and neighborhood aggregation.

The reference's grid is strictly hierarchical -- QQ tiles nest in
sections, sections in townships (reference ``pytrs/parser/trs.py``
twp/rge/sec composition; our ``spatial/grid.py`` realizes the
geometry) -- so the natural OLAP companions to the flat tile
assignment are:

- ``tile_pyramid``: one-pass multi-level aggregation up the
  QQ -> section -> township hierarchy (``ROLLUP``), the
  vector-tile-pyramid analogue of raster zoom levels;
- ``kring_density``: per-section-cell counts smoothed over the
  k-ring of neighboring cells (the H3 ``grid_disk`` aggregation
  pattern), for hot-township detection and skew planning;
- ``tile_embedding_stats``: join image embeddings onto tile
  assignments and reduce an element-wise centroid per tile -- the
  bridge between the spatial world and the ANN/dedup world.

All three are pure DataFrame compositions: rollup is a single
shuffle with map-side partial aggregation, the k-ring explode runs
over the *aggregated* cell table (bounded by grid area, never by
image count), and the centroid reduction is a skinny
(key, pos, double) partial agg.  No Python crossings anywhere.
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ALL = '*'     # sentinel for rolled-up levels (never a valid trs/qq char)


def tile_pyramid(tiles: DataFrame, trs_col: str = 'trs',
                 qq_col: str = 'qq') -> DataFrame:
    """Multi-level tile counts up the aliquot hierarchy in ONE pass.

    Input: a tile assignment (``assign_images_to_tiles`` output --
    one row per image with ``trs`` + ``qq``).  Output: one row per
    (township, section, qq) node of the pyramid at every level,
    rolled-up members coalesced to ``'*'``:

        level 3:  twprge, sec, qq   (leaf tiles)
        level 2:  twprge, sec, *    (per-section totals)
        level 1:  twprge, *,   *    (per-township totals)
        level 0:  *,      *,   *    (grand total)

    ``level`` counts the non-rolled-up keys, so consumers slice one
    zoom level with a single equality filter.

    Scale shape: ``ROLLUP`` computes all four levels inside one
    hash-aggregate -- partial (map-side) aggregation applies, the
    shuffle carries at most 4x the LEAF-tile cardinality (bounded by
    grid area x 16 QQs, never by image count), and there is exactly
    one exchange regardless of pyramid depth.  The alternative
    (4 groupBys + union) scans the assignment 4 times.
    """
    twprge = F.substring(F.col(trs_col), 1,
                         F.length(trs_col) - F.lit(2))
    sec = F.substring(F.col(trs_col), -2, 2)
    lvl = tiles.select(twprge.alias('twprge'), sec.alias('sec'),
                       F.col(qq_col).alias('qq'))
    # GROUPING() (not coalesce/isNotNull) distinguishes a rolled-up
    # key from a genuinely-NULL data value: a null qq in the input
    # stays a level-3 leaf (rendered NULL), it does not merge into
    # the per-section subtotal row.
    rolled = (lvl.rollup('twprge', 'sec', 'qq')
              .agg(F.count('*').alias('n_images'),
                   F.grouping('twprge').alias('_gt'),
                   F.grouping('sec').alias('_gs'),
                   F.grouping('qq').alias('_gq')))
    level = (F.lit(3) - F.col('_gt') - F.col('_gs') - F.col('_gq'))
    return rolled.select(
        F.when(F.col('_gt') == 1, F.lit(ALL))
        .otherwise(F.col('twprge')).alias('twprge'),
        F.when(F.col('_gs') == 1, F.lit(ALL))
        .otherwise(F.col('sec')).alias('sec'),
        F.when(F.col('_gq') == 1, F.lit(ALL))
        .otherwise(F.col('qq')).alias('qq'),
        level.cast('int').alias('level'),
        'n_images')


def kring_density(points: DataFrame, k: int = 1,
                  x_col: str = 'x', y_col: str = 'y') -> DataFrame:
    """Per-section-cell image counts smoothed over the k-ring of
    neighboring cells (the square grid analogue of H3 ``grid_disk``
    aggregation).

    Output: one row per NON-EMPTY section cell --
    ``(cell_x, cell_y, n_self, n_ring)`` where ``n_ring`` sums the
    counts of the (2k+1)^2 cells centered there (including self).
    Empty cells inside a ring contribute 0 and emit no row.

    Scale shape: the raw points aggregate FIRST (one shuffle, partial
    agg); the (2k+1)^2 offset explode then runs over the aggregated
    cell table, whose cardinality is bounded by the occupied grid
    area -- at 10^12 images over a continent-sized grid that is ~10^7
    cells, so the explode+re-agg is trivially small compared to the
    initial aggregation.  The final self-join is cell-table vs
    cell-table (AQE picks broadcast when it fits).
    """
    if k < 1:
        raise ValueError(f'k must be >= 1, got {k}')
    cells = (points.groupBy(
        F.floor(x_col).cast('long').alias('cell_x'),
        F.floor(y_col).cast('long').alias('cell_y'))
        .agg(F.count('*').alias('n_self')))
    offsets = F.array(*[
        F.struct(F.lit(dx).alias('dx'), F.lit(dy).alias('dy'))
        for dx in range(-k, k + 1) for dy in range(-k, k + 1)])
    ring = (cells
            .select('cell_x', 'cell_y', 'n_self',
                    F.explode(offsets).alias('o'))
            .groupBy((F.col('cell_x') + F.col('o.dx')).alias('cell_x'),
                     (F.col('cell_y') + F.col('o.dy')).alias('cell_y'))
            .agg(F.sum('n_self').alias('n_ring')))
    return cells.join(ring, ['cell_x', 'cell_y'])


def tile_embedding_stats(assignments: DataFrame, embeddings: DataFrame,
                         id_col: str = 'vec_id',
                         vec_col: str = 'embedding',
                         key: Column = None,
                         decimals: int = 6) -> DataFrame:
    """Element-wise embedding centroid per tile key, in exploded form
    ``(key, pos, centroid_v, n_vectors)``.

    ``assignments`` carries one row per vector id with the tile
    columns (``assign_images_to_tiles`` output); ``key`` defaults to
    the township (``trs`` minus the trailing section digits).  The
    centroid is the per-dimension mean over every vector assigned to
    the key, rounded to ``decimals`` (floats cross engines; the
    rounding makes the result oracle-comparable).

    Scale shape: the join attaches only (id -> key), so vectors never
    carry tile payload; ``posexplode`` emits skinny
    (key, pos, double) rows that partial-aggregate map-side -- the
    shuffle carries |keys| x dim rows, independent of corpus size.
    ``assemble_centroids`` packs the exploded form back into
    ``array<double>`` when a vector-shaped centroid is needed
    (e.g. to seed IVF cells per region).

    Null embeddings are excluded from BOTH the mean and
    ``n_vectors`` (the count is the averaging denominator).  The
    corpus is assumed dimension-uniform (the embeddings-table
    contract); ragged rows would skew later positions' denominators
    -- run the ann suite's ``_valid_mask`` discipline upstream if
    the corpus can be ragged.
    """
    if key is None:
        key = F.substring(F.col('trs'), 1,
                          F.length('trs') - F.lit(2)).alias('twprge')
    keyed = assignments.select(F.col(id_col), key)
    key_name = keyed.columns[1]
    # Null embeddings contribute nothing to the mean (posexplode
    # skips them), so they must not count in n_vectors either -- the
    # count is the averaging denominator the consumer reasons with.
    j = keyed.join(embeddings.select(id_col, vec_col), id_col) \
        .filter(F.col(vec_col).isNotNull())
    counts = (j.groupBy(key_name)
              .agg(F.count('*').alias('n_vectors')))
    per_dim = (j.select(key_name,
                        F.posexplode(vec_col).alias('pos', 'v'))
               .groupBy(key_name, 'pos')
               .agg(F.round(F.avg('v'), decimals).alias('centroid_v')))
    return per_dim.join(counts, key_name) \
        .select(key_name, 'pos', 'centroid_v', 'n_vectors')


def assemble_centroids(stats: DataFrame, key_name: str = 'twprge') \
        -> DataFrame:
    """(key, pos, centroid_v, n_vectors) -> (key, centroid:
    array<double>, n_vectors): sort-by-pos pack of the exploded
    centroid.  collect_list is bounded by the embedding dim per
    group, not by corpus size."""
    return (stats.groupBy(key_name, 'n_vectors')
            .agg(F.array_sort(
                F.collect_list(F.struct('pos', 'centroid_v')))
                .alias('s'))
            .select(key_name,
                    F.transform('s', lambda x: x['centroid_v'])
                    .alias('centroid'),
                    'n_vectors'))


def qq_acres(qq) -> Column:
    """Acreage of one aliquot string under the standard PLSS areas
    (section = 640 ac): each quarter component ('NE','SW',...)
    divides by 4, each half component ('N2','S2',...) divides by 2 --
    so 'SENE' = 40 ac (a quarter-quarter), 'S2N2NWSW' = 10 ac.
    Computed natively from component counts: with k2 = number of
    half components and kq = number of quarter components,
    acres = 640 / (2^k2 * 4^kq).  (Reference semantics: the QQ
    strings come from aliquot_parse.py's recursive quartering --
    ``pytrs_spark/plss/aliquot.py``; standard lots carry stated
    acreage instead and are handled by the lot parser.)
    """
    q = F.col(qq) if isinstance(qq, str) else qq
    k2 = F.length(q) - F.length(F.replace(q, F.lit('2'), F.lit('')))
    n_comp = (F.length(q) / 2).cast('int')
    kq = n_comp - k2
    # 'ALL' is a real aliquot value (qq_depth=0 parses, the quadtree
    # simplifier, tract.py's ALL detector): the whole section, 640 ac
    # -- the component formula would misread its 3 chars as one
    # quarter (160 ac).
    return F.when(q == 'ALL', F.lit(640.0)).otherwise(
        F.lit(640.0) / (F.pow(F.lit(2.0), k2) * F.pow(F.lit(4.0), kq)))


def acreage_rollup(qqs: DataFrame, key_col: str = 'key',
                   qq_col: str = 'qq') -> DataFrame:
    """Total acreage per key from exploded aliquot rows: one
    partial-agg exchange; the per-row acreage is a codegen
    expression."""
    return (qqs.groupBy(key_col)
            .agg(F.sum(qq_acres(qq_col)).alias('total_acres'),
                 F.count('*').alias('n_aliquots')))
