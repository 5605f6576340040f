"""End-to-end spatial tests: parse -> polygon layer -> cell join ->
PIP -> tile assignment, asserted against an in-test numpy brute-force
oracle (FIXTURES.md F3/F4)."""

import numpy as np
import pytest

from pytrs_spark import datagen
from pytrs_spark.pipeline import (
    assign_images_to_tiles,
    polygon_layer_from_descs,
)
from pytrs_spark.spatial.join import JOIN_RES
from spatial_oracle import (
    assert_shuffle_strategy,
    bruteforce_tiles,
    final_plan_nodes,
    python_nodes,
)

N_IMAGES = 2000
# The section that ~10% of the generated images are aimed at.
DENSE = f"{datagen.DENSE_TWP}n{datagen.DENSE_RGE}w{datagen.DENSE_SEC}"


@pytest.fixture(scope="module")
def polygons(spark):
    df = polygon_layer_from_descs(datagen.gen_descs(spark))
    df.cache()
    return df


@pytest.fixture(scope="module")
def images(spark):
    df = datagen.gen_images(spark, N_IMAGES, with_bytes=False,
                            partitions=4)
    df.cache()
    return df


def test_polygon_layer_is_full_qq_lattice(polygons):
    """Every section of every covered township must partition into
    exactly the 16 standard QQs (the descs corpus guarantees it)."""
    rows = polygons.collect()
    n_townships = (datagen.TWP_MAX - datagen.TWP_MIN + 1) * \
        (datagen.RGE_MAX - datagen.RGE_MIN + 1)
    assert len(rows) == n_townships * 36 * 16
    by_trs = {}
    for r in rows:
        by_trs.setdefault(r['trs'], set()).add(r['qq'])
    expected_qqs = {f"{i}{o}" for i in ('NE', 'NW', 'SE', 'SW')
                    for o in ('NE', 'NW', 'SE', 'SW')}
    for trs, qqs in by_trs.items():
        assert qqs == expected_qqs, trs
    # Geometry spot check: every box is exactly 0.25 x 0.25 mi and
    # inside the domain.
    for r in rows[:500]:
        assert abs((r['xmax'] - r['xmin']) - 0.25) < 1e-12
        assert abs((r['ymax'] - r['ymin']) - 0.25) < 1e-12
        assert datagen.X0 <= r['xmin'] < datagen.X1
        assert datagen.Y0 <= r['ymin'] < datagen.Y1


def test_tile_assignment_matches_bruteforce(spark, polygons, images):
    """Engine tile assignment == numpy all-pairs half-open box oracle."""
    result = assign_images_to_tiles(images, polygons)
    got = {r['image_id']: (r['trs'], r['qq'], r['caption'], r['x'], r['y'])
           for r in result.collect()}

    polys = polygons.select('trs', 'qq', 'xmin', 'ymin', 'xmax',
                            'ymax').collect()
    pxmin = np.array([p['xmin'] for p in polys])
    pymin = np.array([p['ymin'] for p in polys])
    pxmax = np.array([p['xmax'] for p in polys])
    pymax = np.array([p['ymax'] for p in polys])
    keys = [(p['trs'], p['qq']) for p in polys]

    imgs = images.select('image_id', 'phash', 'caption').collect()
    assert len(got) == len(imgs), "every image must land in a tile"
    phash = np.array([r['phash'] for r in imgs], dtype=np.int64)
    x, y = datagen.phash_to_xy(phash)
    for i, row in enumerate(imgs):
        hits = np.nonzero((pxmin <= x[i]) & (x[i] < pxmax)
                          & (pymin <= y[i]) & (y[i] < pymax))[0]
        assert len(hits) >= 1, (row['image_id'], x[i], y[i])
        expected = min(keys[h] for h in hits)   # smallest (trs, qq)
        trs, qq, caption, gx, gy = got[row['image_id']]
        assert (trs, qq) == expected, row['image_id']
        assert abs(gx - x[i]) < 1e-9 and abs(gy - y[i]) < 1e-9
        # caption embeds the expected tile (datagen closed form).
        assert caption == row['caption']
        assert caption.endswith(f"in {trs}:{qq}"), (caption, trs, qq)


def test_salted_join_same_result(spark, polygons, images):
    """The salted shuffle strategy must produce the identical rows as
    the broadcast strategy, through a real salted sort-merge join: one
    ``hashpartitioning(cell, salt)`` exchange per side, no other
    exchange, no Python stage."""
    base = assign_images_to_tiles(images, polygons, salt=0)
    salted = assign_images_to_tiles(images, polygons, salt=4)
    assert {tuple(r) for r in base.collect()} \
        == {tuple(r) for r in salted.collect()}
    assert_shuffle_strategy(salted, ('cell', 'salt'))


def _assignment_set(df):
    return {tuple(r) for r in
            df.select('image_id', 'trs', 'qq').collect()}


@pytest.fixture(scope="module")
def lattice_truth(polygons, images):
    return bruteforce_tiles(images, polygons)


def _with_section_box(polygons):
    """The layer plus a whole-section 'ALL' box over the dense
    section's 16 QQs (an overlapping layer).  The dense skew section
    is guaranteed ~10% of the images, so the box wins rows."""
    from pyspark.sql import functions as F
    extra = polygons.filter(F.col('trs') == DENSE).groupBy('trs').agg(
        F.lit('ALL').alias('qq'), F.lit(0).alias('depth'),
        F.min('xmin').alias('xmin'), F.min('ymin').alias('ymin'),
        F.max('xmax').alias('xmax'), F.max('ymax').alias('ymax'))
    extra = extra.select(
        'trs', 'qq', 'depth', 'xmin', 'ymin', 'xmax', 'ymax',
        F.array('xmin', 'xmax', 'xmax', 'xmin').alias('ring_xs'),
        F.array('ymin', 'ymin', 'ymax', 'ymax').alias('ring_ys'))
    return polygons.unionByName(extra).cache()


def _quarters(xmin, ymin, xmax, ymax):
    """The four quarter boxes of a box, by PLSS direction."""
    xm, ym = (xmin + xmax) / 2, (ymin + ymax) / 2
    return {'NE': (xm, ym, xmax, ymax), 'NW': (xmin, ym, xm, ymax),
            'SE': (xm, ymin, xmax, ym), 'SW': (xmin, ymin, xm, ym)}


def _with_boxes(polygons, trs, boxes, drop=()):
    """The layer minus the ``drop`` QQs of section ``trs``, plus one
    box polygon per ``{qq: (xmin, ymin, xmax, ymax)}`` entry."""
    from pyspark.sql import functions as F
    rows = [(trs, qq, len(qq) // 2, x0, y0, x1, y1,
             [x0, x1, x1, x0], [y0, y0, y1, y1])
            for qq, (x0, y0, x1, y1) in sorted(boxes.items())]
    extra = polygons.sparkSession.createDataFrame(rows, polygons.schema)
    kept = polygons.filter(~((F.col('trs') == trs)
                             & F.col('qq').isin(list(drop))))
    return kept.unionByName(extra).cache()


def _with_nested_aliquots(polygons):
    """The dense section's SWSW QQ plus its four depth-3 aliquots and
    one depth-4 aliquot inside NESWSW: six polygons in one cell.  Three
    of the four children sort before 'SWSW' ('NESWSW' < 'SWSW'), so
    the tie-break is exercised both ways."""
    qq = polygons.filter((polygons.trs == DENSE) & (polygons.qq == 'SWSW')) \
        .select('xmin', 'ymin', 'xmax', 'ymax').first()
    kids = {d + 'SWSW': box for d, box in _quarters(*qq).items()}
    kids['NENESWSW'] = _quarters(*kids['NESWSW'])['NE']
    return _with_boxes(polygons, DENSE, kids)


def _with_split_cell(polygons):
    """The dense section's NENE QQ replaced by its N and S halves: a
    bbox-disjoint tiling whose halves share one join cell (K = 2)."""
    qq = polygons.filter((polygons.trs == DENSE) & (polygons.qq == 'NENE')) \
        .select('xmin', 'ymin', 'xmax', 'ymax').first()
    ym = (qq['ymin'] + qq['ymax']) / 2
    halves = {'N2NENE': (qq['xmin'], ym, qq['xmax'], qq['ymax']),
              'S2NENE': (qq['xmin'], qq['ymin'], qq['xmax'], ym)}
    return _with_boxes(polygons, DENSE, halves, drop=('NENE',))


def test_fused_tier1_disjoint_layer_is_all_native(spark, polygons,
                                                  images, lattice_truth,
                                                  tmp_path):
    """No cell of the descs-corpus QQ lattice holds two polygons
    (K == 1), so the broadcast strategy skips the winner aggregate:
    no Python node and no exchange anywhere in the final plan, and
    output identical to the brute-force ray cast.

    Images are read back from parquet so the plan under test is the
    production shape (the in-memory test generator is itself a
    MapInPandas stage and would trip the no-Python assertion)."""
    path = str(tmp_path / 'imgs')
    images.write.mode('overwrite').parquet(path)
    images = spark.read.parquet(path)
    fused = assign_images_to_tiles(images, polygons, payload_cols=())
    assert _assignment_set(fused) == lattice_truth
    names = [name for name, _ in final_plan_nodes(fused)]
    assert not python_nodes(fused), names
    assert 'BroadcastHashJoinExec' in names, names
    assert 'ShuffleExchangeExec' not in names, names


@pytest.mark.parametrize('layer, k, winners', [
    (_with_section_box, 2, {'ALL'}),
    (_with_nested_aliquots, 6, {'NENESWSW', 'NWSWSW', 'SESWSW', 'SWSW'}),
    (_with_split_cell, 2, {'N2NENE', 'S2NENE'}),
], ids=['section_box', 'nested_aliquots', 'split_cell'])
def test_fused_overlapping_layer_reduces_natively(spark, polygons, images,
                                                  layer, k, winners):
    """Layers where some cell holds K > 1 polygons: a whole-section
    'ALL' box on top of its 16 QQs, a QQ with deeper aliquots inside
    it, and two disjoint half-QQs sharing a cell.  Both strategies
    must reduce with the native winner aggregate (no Python node) and
    match the brute-force ray cast, including the lexicographic-min
    tie-break ('ALL' < 'NENE', so the section box wins every point
    inside it)."""
    layered = layer(polygons)
    want = bruteforce_tiles(images, layered)
    for salt in (0, 4):
        fused = assign_images_to_tiles(images, layered, payload_cols=(),
                                       salt=salt)
        got = _assignment_set(fused)
        assert not python_nodes(fused)
        assert got == want, salt
        if salt:
            assert_shuffle_strategy(fused, ('cell', 'salt'))
    assert layered._fused_prep['stats'][JOIN_RES][3] == k
    # The images exercise each layer's tie-breaks.
    assert winners <= {q for (_, t, q) in want if t == DENSE}


def test_shuffle_strategy_on_overlapping_layer(spark, polygons, images):
    """The salted shuffle strategy's ``min(struct(trs, qq, ...))``
    aggregate applies the same tie-break: equal to the broadcast
    strategy, rows and payload included."""
    overlapping = _with_section_box(polygons)
    salted = assign_images_to_tiles(images, overlapping, salt=4)
    base = assign_images_to_tiles(images, overlapping)
    assert {tuple(r) for r in salted.collect()} \
        == {tuple(r) for r in base.collect()}
    assert_shuffle_strategy(salted, ('cell', 'salt'))


def test_fused_variable_arity_layer_is_all_native(spark, polygons,
                                                  images):
    """Splitting one box's top edge with a collinear midpoint vertex
    (same geometry, 5-vertex ring) mixes ring arities: the padded
    native ray cast must handle it with no Python stage (the layer is
    still bbox-disjoint), and the assignment must equal the brute-
    force ray cast over the mixed rings and be unchanged (the extra
    vertex is geometrically a no-op) on both strategies."""
    from pyspark.sql import functions as F
    base = assign_images_to_tiles(images, polygons, payload_cols=())
    first = polygons.orderBy('trs', 'qq').limit(1) \
        .withColumn('ring_xs', F.array(
            'xmin', 'xmax', 'xmax', (F.col('xmin') + F.col('xmax')) / 2,
            'xmin')) \
        .withColumn('ring_ys', F.array(
            'ymin', 'ymin', 'ymax', 'ymax', 'ymax'))
    rest = polygons.exceptAll(polygons.orderBy('trs', 'qq').limit(1))
    mixed = rest.unionByName(first).cache()
    fused = assign_images_to_tiles(images, mixed, payload_cols=())
    got = _assignment_set(fused)
    assert not python_nodes(fused)
    assert got == bruteforce_tiles(images, mixed)
    assert got == _assignment_set(base)
    # The shuffle strategy pads the same rings natively.
    salted = assign_images_to_tiles(images, mixed, payload_cols=(),
                                    salt=4)
    assert _assignment_set(salted) == got


def test_skew_slice_lands_in_dense_section(spark, images, polygons):
    """~10% of images are aimed at sec 14 of T154N-R97W."""
    result = assign_images_to_tiles(images, polygons)
    dense = result.filter(
        f"trs = '{datagen.DENSE_TWP}n{datagen.DENSE_RGE}w"
        f"{datagen.DENSE_SEC}'").count()
    assert dense >= int(N_IMAGES * datagen.SKEW_FRACTION_DEFAULT)


def test_fused_prep_over_cap_falls_back_to_shuffle(spark, images,
                                                   lattice_truth,
                                                   monkeypatch):
    """A polygon layer whose size estimate exceeds the prep cap must
    NEVER be collected to the driver: the size comes from one skinny
    agg, then the shuffle strategy runs -- a sort-merge join on
    ``cell`` and a native winner aggregate, no Python stage -- with
    the brute-force assignment."""
    from pytrs_spark.spatial.grid import with_anchor
    from pytrs_spark.spatial.join import JOIN_RES, assign_tiles_fused

    # Fresh layer object: the prep memo sticks to the DataFrame, so
    # the capped decision must not touch the shared fixture.
    fresh = polygon_layer_from_descs(datagen.gen_descs(spark)).cache()

    def collect_layer(self):
        raise AssertionError('the over-cap layer was collected')

    with monkeypatch.context() as m:
        m.setattr(type(fresh), 'toPandas', collect_layer)
        m.setattr(type(fresh), 'toArrow', collect_layer)
        out = assign_tiles_fused(with_anchor(images), fresh,
                                 payload_cols=(), max_prep_bytes=1)
        assert _assignment_set(out) == lattice_truth
    assert_shuffle_strategy(out, ('cell',))
    # The memo holds the size estimate only, never a collected prep.
    assert set(fresh._fused_prep) == {'stats'}
    assert JOIN_RES not in fresh._fused_prep


@pytest.mark.parametrize('salt', [0, 4])
def test_empty_layer_returns_typed_empty_frame(spark, polygons, images,
                                               salt):
    empty = polygons.filter('false')
    out = assign_images_to_tiles(images, empty, salt=salt)
    assert out.columns == ['image_id', 'caption', 'x', 'y', 'trs', 'qq']
    assert dict(out.dtypes)['trs'] == 'string'
    assert out.count() == 0


@pytest.mark.parametrize('salt', [0, 4])
def test_image_outside_every_polygon_gets_no_row(spark, polygons, images,
                                                 lattice_truth, salt):
    """Dropping the dense section's 16 QQs from the layer leaves its
    ~10% of images outside every polygon: they get no row, everyone
    else keeps their tile."""
    from pyspark.sql import functions as F
    holed = polygons.filter(F.col('trs') != DENSE).cache()
    out = assign_images_to_tiles(images, holed, payload_cols=(),
                                 salt=salt)
    want = {r for r in lattice_truth if r[1] != DENSE}
    assert len(want) <= N_IMAGES * (1 - datagen.SKEW_FRACTION_DEFAULT)
    assert _assignment_set(out) == want


def test_knn_large_k_grows_radius_instead_of_crashing(spark):
    """k above the first window's capacity ((2r+2)^2 = 36 at r=2) must
    trigger ring expansion, not an IndexError inside the kernel."""
    from pytrs_spark.spatial.knn import knn_section_corners
    pts = spark.createDataFrame(
        [('a', -590.0, 905.0), ('b', -599.5, 901.5)],
        'image_id string, x double, y double')
    out = knn_section_corners(pts, k=40, max_radius=8)
    assert out.count() == 80
    # and ranks are dense 1..40 per point
    import pyspark.sql.functions as F
    mx = out.groupBy('image_id').agg(F.max('rank').alias('m')).collect()
    assert all(r['m'] == 40 for r in mx)


def test_knn_max_radius_validated(spark):
    from pytrs_spark.spatial.knn import knn_section_corners
    import pytest as _pt
    pts = spark.createDataFrame([('a', -590.0, 905.0)],
                                'image_id string, x double, y double')
    with _pt.raises(ValueError, match='max_radius'):
        knn_section_corners(pts, k=4, max_radius=1)
