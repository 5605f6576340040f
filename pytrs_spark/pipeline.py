"""The flagship pipeline: parse PLSS descriptions into a polygon
layer, derive anchor points from image phashes, spatial-join, and
assign each image to its (trs, qq) aliquot tile.

    descs ──parse_documents──▶ tracts ──parse_tract_details──▶ qqs
          ──decompose_trs──▶ numeric keys ──build_polygon_layer──▶ polys
    images ──with_anchor (no bytes!)──▶ points
    points ⋈ poly cell index ──native ray cast──▶ matches ──▶ tiles

Every assignment runs :func:`~.spatial.join.assign_tiles_fused`: one
native cell index and one native winner, with a broadcast hint by
default and a (salted) sort-merge hint when ``salt > 0`` or the index
is too big to collect.  ``bytes`` never enters the join path (late
projection); the raster stage re-joins it by image_id.  Raster tiles
assign through the same function as the flagship (:func:`run_raster`),
so tile assignment has no Python stage on any layer or strategy.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.parse import parse_documents_full
from .spatial.grid import build_polygon_layer, with_anchor
from .spatial.join import JOIN_RES, assign_tiles_fused


def polygon_layer_from_descs(descs: DataFrame,
                             text_col: str = 'raw_desc') -> DataFrame:
    """Raw description documents -> (trs, qq) polygon rows.

    One fused Arrow-batched UDF does document parse + tract parse +
    TRS decomposition, so downstream geometry references materialized
    columns (not replicated regexp trees) and each task holds one
    Python worker (not a chain of three).
    """
    tracts = parse_documents_full(descs, text_col=text_col)
    return build_polygon_layer(tracts)


def assign_images_to_tiles(images: DataFrame, polygons: DataFrame,
                           res: int = JOIN_RES, salt: int = 0,
                           payload_cols=('caption', 'x', 'y')) \
        -> DataFrame:
    """images (input_hint shape) x polygon layer -> one tile per image.

    Output: image_id, *payload_cols, trs, qq (sorted-set comparable;
    the default payload keeps the caption and anchor x/y, i.e. the
    full historical output).  Pass ``payload_cols=()`` for the pure
    assignment (image_id, trs, qq) -- at 10^11-row scale payload
    bytes through the joins, exchanges and (on an overlapping layer)
    the winner aggregate are the bottleneck (x/y still feed the ray
    cast; they just don't reach the output), and
    the late-materialization policy (re-join payload by image_id only
    where needed) is the same one that keeps ``bytes`` out of the
    join path.
    """
    points = with_anchor(images)
    # ``salt > 0`` picks the shuffle strategy (see assign_tiles_fused);
    # otherwise the broadcast strategy runs unless the layer is too
    # big to collect.
    return assign_tiles_fused(points, polygons, res=res, salt=salt,
                              payload_cols=payload_cols)


def assign_tile_boxes(images: DataFrame, polygons: DataFrame) -> DataFrame:
    """The raster stage's assignment: ``image_id, x, y, trs, qq`` plus
    the winning aliquot's box ``xmin, ymin, xmax, ymax``.

    Assigns through the flagship's fused path (reusing the prep
    memoized on ``polygons``) and attaches each box by a broadcast
    join on ``(trs, qq)``, which is unique in a layer from
    :func:`build_polygon_layer`."""
    assigned = assign_tiles_fused(with_anchor(images), polygons,
                                  payload_cols=('x', 'y'))
    boxes = polygons.select('trs', 'qq', 'xmin', 'ymin', 'xmax', 'ymax')
    return assigned.join(F.broadcast(boxes), ['trs', 'qq'])


def run_raster(images: DataFrame, polygons: DataFrame,
               tile_px: int = 64, patch_px: int = 16) -> DataFrame:
    """G8 end to end: assign tiles on the bytes-free projection, then
    re-join ``bytes`` by image_id and composite one raster per
    (trs, qq) aliquot.

    Raster shares the flagship's fused assignment
    (:func:`assign_tile_boxes`), which has no Python stage, so the
    per-tile composite is its one Python stage."""
    from .raster import materialize_tiles
    return materialize_tiles(assign_tile_boxes(images, polygons), images,
                             tile_px=tile_px, patch_px=patch_px)
