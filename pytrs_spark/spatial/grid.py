"""Synthetic PLSS plane geometry: townships -> sections -> aliquot
boxes, a 3-resolution integer cell index, and phash-derived anchor
points.

Everything here is **native column math**: no Python runs in the
layer build after the parse.  The QQ recursion (:func:`_qq_box`)
mirrors the reference's subdivision definitions
(``pytrs/parser/tract/aliquot_parse.py:23-29, 300-362``): the same
4-way quartering that parses aliquot text *is* the polygon geometry.

Plane conventions (miles):

- township ``(t)n (r)w``: x in [-6r, -6r+6), y in [6(t-1), 6t);
  township ``(t)s (r)e``: x in [6(r-1), 6r), y in [-6t, -6t+6).
- sections numbered boustrophedon: sec 1 = NE corner, 1-6 westward
  across the north row, 7-12 eastward, ... 36 = SE corner.
- all boxes are half-open: [xmin, xmax) x [ymin, ymax) -- exact,
  deterministic tie-breaking on shared edges.

Cell index: ``cell = res * 2^58 + (cx + 2^28) * 2^29 + (cy + 2^28)``
with cell size 1 mi (res 7), 0.5 mi (res 8), 0.25 mi (res 9) -- the
same H3/S2-style hierarchy semantics (parent/child by coordinate
shift) on a synthetic grid, with zero native dependencies.
"""

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..datagen import X0, X1, Y0, Y1

RES_SIZE = {7: 1.0, 8: 0.5, 9: 0.25}
_OFFSET = 2 ** 28


def township_origin(twp_num, twp_ns, rge_num, rge_ew):
    """(x0, y0) of a township's SW corner, native columns."""
    x0 = (F.when(rge_ew == 'e', (rge_num - 1) * 6.0)
          .otherwise(-rge_num * 6.0))
    y0 = (F.when(twp_ns == 'n', (twp_num - 1) * 6.0)
          .otherwise(-twp_num * 6.0))
    return x0, y0


def section_box(twp_num, twp_ns, rge_num, rge_ew, sec_num):
    """(xmin, ymin, xmax, ymax) of a section, native columns."""
    tx0, ty0 = township_origin(twp_num, twp_ns, rge_num, rge_ew)
    row = F.floor((sec_num - 1) / 6).cast('int')      # 0 = north row
    i = (sec_num - 1) % 6
    col = F.when(row % 2 == 0, 5 - i).otherwise(i)    # 0 = west col
    xmin = tx0 + col * 1.0
    ymin = ty0 + (5 - row) * 1.0
    return xmin, ymin, xmin + 1.0, ymin + 1.0


def _sub_box(box, comp) -> Column:
    """One aliquot component applied to a fraction box: halves
    (``N2``) halve it, quarters (``NE``) quarter it -- the inverse of
    the parse-side subdivision.  Any other component leaves it as is.
    """
    mx = (box['x0'] + box['x1']) / 2.0
    my = (box['y0'] + box['y1']) / 2.0
    return F.struct(
        F.when(comp.isin('E2', 'NE', 'SE'), mx)
        .otherwise(box['x0']).alias('x0'),
        F.when(comp.isin('N2', 'NE', 'NW'), my)
        .otherwise(box['y0']).alias('y0'),
        F.when(comp.isin('W2', 'NW', 'SW'), mx)
        .otherwise(box['x1']).alias('x1'),
        F.when(comp.isin('S2', 'SE', 'SW'), my)
        .otherwise(box['y1']).alias('y1'))


def _qq_box(qq) -> Column:
    """Fraction box ``struct<x0, y0, x1, y1>`` of an aliquot string
    within its unit section, native columns.

    Components are read outermost-last ('NENW' = NE of NW): fold from
    the rightmost two-character component.  ``'ALL'``, ``''`` and null
    are the unit box, and a trailing odd character is ignored.
    """
    comps = F.reverse(F.regexp_extract_all(
        F.coalesce(qq, F.lit('')), F.lit('(?s)(..)'), 1))
    unit = F.struct(F.lit(0.0).alias('x0'), F.lit(0.0).alias('y0'),
                    F.lit(1.0).alias('x1'), F.lit(1.0).alias('y1'))
    return F.aggregate(comps, unit, _sub_box)


def build_polygon_layer(tracts: DataFrame) -> DataFrame:
    """Parsed tract rows -> one polygon row per (trs, qq).

    Input needs columns ``trs, twp_num, twp_ns, rge_num, rge_ew,
    sec_num, qqs`` (from ``operators.parse.decompose_trs`` +
    ``parse_tract_details``).  Output: ``trs, qq, depth, xmin, ymin,
    xmax, ymax, ring_xs, ring_ys`` (vertex ring as flat coordinate
    arrays for the exact point-in-polygon test).

    All native: the QQ explode, the aliquot box (:func:`_qq_box`) and
    the section offset.  Only the parse that produced ``qqs`` runs in
    Python.  The other key columns are functions of ``trs`` (the parse
    decomposes it), so a plain ``distinct`` over the exploded rows
    yields one row per ``(trs, qq)`` and plans as hash aggregates.
    """
    valid = tracts.filter(
        F.col('twp_num').isNotNull() & F.col('rge_num').isNotNull()
        & F.col('sec_num').isNotNull())
    exploded = valid.select(
        'trs', 'twp_num', 'twp_ns', 'rge_num', 'rge_ew', 'sec_num',
        F.explode('qqs').alias('qq')).distinct()

    # Its own projection: the fold is interpreted and holds lambda
    # variables, so Spark would neither codegen it nor share it across
    # the 12 references below.
    j = exploded.withColumn('_box', _qq_box(F.col('qq')))
    box = F.col('_box')
    sx0, sy0, _, _ = section_box(
        F.col('twp_num'), F.col('twp_ns'), F.col('rge_num'),
        F.col('rge_ew'), F.col('sec_num'))
    xmin = sx0 + box['x0']
    ymin = sy0 + box['y0']
    xmax = sx0 + box['x1']
    ymax = sy0 + box['y1']
    # Vertex ring kept as two flat double arrays (ring_xs / ring_ys);
    # join._cell_index pads them natively to the layer's longest ring.
    ring_xs = F.array(xmin, xmax, xmax, xmin)
    ring_ys = F.array(ymin, ymin, ymax, ymax)
    return j.select(
        'trs', 'qq',
        (F.length('qq') / 2).cast('int').alias('depth'),
        xmin.alias('xmin'), ymin.alias('ymin'),
        xmax.alias('xmax'), ymax.alias('ymax'),
        ring_xs.alias('ring_xs'), ring_ys.alias('ring_ys'),
    )


def cell_id(x, y, res: int) -> Column:
    """Encode a point's cell at a resolution -- native column math."""
    size = RES_SIZE[res]
    cx = F.floor(x / size).cast('long') + _OFFSET
    cy = F.floor(y / size).cast('long') + _OFFSET
    return (F.lit(res).cast('long') * (2 ** 58)
            + cx * (2 ** 29) + cy)


def cover_cells(xmin, ymin, xmax, ymax, res: int) -> Column:
    """All cells overlapping a half-open box, as an array column --
    native sequence x sequence, flattened."""
    size = RES_SIZE[res]
    cx0 = F.floor(xmin / size).cast('long')
    cx1 = F.ceil(xmax / size).cast('long') - 1
    cy0 = F.floor(ymin / size).cast('long')
    cy1 = F.ceil(ymax / size).cast('long') - 1
    # Guard degenerate boxes (xmax aligned exactly on a cell edge).
    cx1 = F.greatest(cx0, cx1)
    cy1 = F.greatest(cy0, cy1)
    return F.flatten(F.transform(
        F.sequence(cx0, cx1),
        lambda cx: F.transform(
            F.sequence(cy0, cy1),
            lambda cy: (F.lit(res).cast('long') * (2 ** 58)
                        + (cx + _OFFSET) * (2 ** 29)
                        + (cy + _OFFSET)))))


def cover_cells_closed(xmin, ymin, xmax, ymax, res: int) -> Column:
    """All cells overlapping a CLOSED box, as an array column.

    Differs from :func:`cover_cells` (half-open) only when a max edge
    lands exactly on a cell boundary: the closed form includes the
    cell containing that boundary point.  This is the correct cover
    for closed-ball predicates (``dist <= r``): with the half-open
    form, a point at exactly distance ``r`` whose coordinate is
    cell-aligned passes the exact filter but its cell is missing from
    the disk, so the pair silently never meets in the equi-join."""
    size = RES_SIZE[res]
    cx0 = F.floor(xmin / size).cast('long')
    cx1 = F.floor(xmax / size).cast('long')
    cy0 = F.floor(ymin / size).cast('long')
    cy1 = F.floor(ymax / size).cast('long')
    return F.flatten(F.transform(
        F.sequence(cx0, cx1),
        lambda cx: F.transform(
            F.sequence(cy0, cy1),
            lambda cy: (F.lit(res).cast('long') * (2 ** 58)
                        + (cx + _OFFSET) * (2 ** 29)
                        + (cy + _OFFSET)))))


def anchor_xy(phash) -> tuple:
    """phash int64 -> anchor (x, y), native columns.

    u = bits 31..61 / 2^31; v = bits 0..30 / 2^31 (same closed form as
    datagen.phash_to_xy and the SQL oracle).
    """
    u = (F.shiftrightunsigned(phash, 31).bitwiseAND(F.lit(2 ** 31 - 1))
         ).cast('double') / F.lit(2.0 ** 31)
    v = (phash.bitwiseAND(F.lit(2 ** 31 - 1))).cast('double') \
        / F.lit(2.0 ** 31)
    x = F.lit(X0) + u * F.lit(X1 - X0)
    y = F.lit(Y0) + v * F.lit(Y1 - Y0)
    return x, y


def with_anchor(images: DataFrame, res_list=(7, 8, 9)) -> DataFrame:
    """Add anchor x/y and per-resolution cell ids to the images table.

    Keeps only the narrow columns (``bytes`` is deliberately NOT
    selected -- late projection keeps the dominant I/O column out of
    the join path; it is re-joined by image_id only at the raster
    stage).
    """
    x, y = anchor_xy(F.col('phash'))
    cols = [F.col('image_id'), F.col('phash'), F.col('caption'),
            x.alias('x'), y.alias('y')]
    for res in res_list:
        cols.append(cell_id(x, y, res).alias(f'cell{res}'))
    return images.select(*cols)
