"""G8 (raster tiles) + G10 (lineage checkpoints / resume) tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pytrs_spark import datagen, imagecodec
from pytrs_spark.lineage import (
    lineage_metrics,
    load_output,
    run_checkpointed,
)
from pytrs_spark.pipeline import (
    assign_images_to_tiles,
    polygon_layer_from_descs,
    run_raster,
)
from pytrs_spark.raster import regrid_images
from spatial_oracle import bruteforce_tiles, python_nodes


@pytest.fixture(scope='module')
def polygons(spark):
    p = polygon_layer_from_descs(datagen.gen_descs(spark)).cache()
    p.count()
    return p


def test_codec_psnr_invariants():
    rng = np.random.Generator(np.random.PCG64(7))
    pixels = rng.integers(0, 256, size=(40, 56, 3), dtype=np.uint8)
    # Lossless round trip is exact.
    assert np.array_equal(
        imagecodec.decode(imagecodec.encode(pixels, 'png')), pixels)
    # Lossy round trip >= 40 dB (input_hint gate).
    got = imagecodec.decode(imagecodec.encode(pixels, 'jpeg'))
    assert imagecodec.psnr(pixels, got) >= 40.0


def test_regrid_images_psnr(spark):
    images = datagen.gen_images(spark, 64, with_bytes=True, partitions=4)
    out = regrid_images(images, out_h=24, out_w=24) \
        .select('image_id', 'fmt', 'psnr_db').collect()
    assert len(out) == 64
    for r in out:
        assert r['psnr_db'] >= 40.0, (r['image_id'], r['fmt'], r['psnr_db'])


def test_materialize_tiles_deterministic(spark, polygons):
    images = datagen.gen_images(spark, 200, with_bytes=True, partitions=4)
    t1 = run_raster(images, polygons, tile_px=32, patch_px=8) \
        .orderBy('trs', 'qq').collect()
    images8 = datagen.gen_images(spark, 200, with_bytes=True, partitions=8)
    t2 = run_raster(images8, polygons, tile_px=32, patch_px=8) \
        .orderBy('trs', 'qq').collect()
    assert [(r['trs'], r['qq'], r['n_images'], r['checksum']) for r in t1] \
        == [(r['trs'], r['qq'], r['n_images'], r['checksum']) for r in t2]
    assert sum(r['n_images'] for r in t1) == 200
    # Decoded tile must be the lossless composite (nonzero where
    # patches landed).
    probe = next(r for r in t1 if r['n_images'] > 0)
    pixels = imagecodec.decode(bytes(probe['tile']))
    assert pixels.shape == (32, 32, 3)
    assert pixels.any()


def _tile_rows(df):
    return sorted((r['trs'], r['qq'], r['n_images'], r['checksum'])
                  for r in df.collect())


def test_run_raster_holds_one_python_stage(spark, polygons, tmp_path):
    """Raster assigns through the fused path: no ArrowEvalPython ray
    cast and no mapInPandas reduction, only the per-tile composite.
    Images are read back from parquet (the in-memory generator is
    itself a MapInPandas stage)."""
    path = str(tmp_path / 'imgs')
    datagen.gen_images(spark, 200, with_bytes=True, partitions=4) \
        .write.parquet(path)
    tiles = run_raster(spark.read.parquet(path), polygons,
                       tile_px=32, patch_px=8)
    assert sum(r[2] for r in _tile_rows(tiles)) == 200
    assert python_nodes(tiles) == {'FlatMapGroupsInPandasExec'}


def test_run_raster_matches_bruteforce_on_overlapping_layer(spark,
                                                            polygons):
    """On an overlapping layer (a whole-section 'ALL' box over its 16
    QQs: the fused path's kernel-reduction tier), run_raster's tiles
    equal materialize_tiles over the brute-force ray-cast assignment
    plus each winner's box, tie-break included ('ALL' < 'NENE' wins
    every image in the section)."""
    from pytrs_spark.raster import materialize_tiles
    from pytrs_spark.spatial.grid import with_anchor
    some = (f"{datagen.DENSE_TWP}n{datagen.DENSE_RGE}w"
            f"{datagen.DENSE_SEC}")
    extra = polygons.filter(F.col('trs') == some).groupBy('trs').agg(
        F.lit('ALL').alias('qq'), F.lit(0).alias('depth'),
        F.min('xmin').alias('xmin'), F.min('ymin').alias('ymin'),
        F.max('xmax').alias('xmax'), F.max('ymax').alias('ymax'))
    extra = extra.select(
        'trs', 'qq', 'depth', 'xmin', 'ymin', 'xmax', 'ymax',
        F.array('xmin', 'xmax', 'xmax', 'xmin').alias('ring_xs'),
        F.array('ymin', 'ymin', 'ymax', 'ymax').alias('ring_ys'))
    overlapping = polygons.unionByName(extra)
    images = datagen.gen_images(spark, 300, with_bytes=True, partitions=4)
    got = _tile_rows(run_raster(images, overlapping,
                                tile_px=32, patch_px=8))
    truth = spark.createDataFrame(
        sorted(bruteforce_tiles(images, overlapping)),
        'image_id string, trs string, qq string')
    ref = truth.join(with_anchor(images).select('image_id', 'x', 'y'),
                     'image_id') \
        .join(overlapping.select('trs', 'qq', 'xmin', 'ymin',
                                 'xmax', 'ymax'), ['trs', 'qq'])
    want = _tile_rows(materialize_tiles(ref, images,
                                        tile_px=32, patch_px=8))
    assert got == want
    assert (some, 'ALL') in {(t, q) for t, q, _, _ in got}


def test_lineage_rows_run_no_python_rdd(spark, tmp_path, monkeypatch):
    """Lineage rows reach Spark through Arrow: a Python-list
    createDataFrame would run a Python RDD (``sc.parallelize``), whose
    workers form a second pool beside the UDF stages' one."""
    from pyspark import SparkContext
    images = datagen.gen_images(spark, 60, with_bytes=False, partitions=2)

    def python_rdd(*args, **kwargs):
        raise AssertionError('run_checkpointed ran a Python RDD')

    with monkeypatch.context() as m:
        m.setattr(SparkContext, 'parallelize', python_rdd)
        n = run_checkpointed(spark, images, lambda df: df,
                             str(tmp_path / 'out'), str(tmp_path / 'lin'),
                             n_buckets=3, run_id='arrow')
    assert n == 3
    metrics = lineage_metrics(spark, str(tmp_path / 'lin')).collect()
    assert sorted(m['bucket'] for m in metrics) == [0, 1, 2]
    assert sum(m['n_in'] for m in metrics) == 60
    assert all(m['n_in'] == m['n_out'] and m['run_id'] == 'arrow'
               for m in metrics)


def test_lineage_resume(spark, tmp_path):
    out = str(tmp_path / 'out')
    lin = str(tmp_path / 'lineage')
    images = datagen.gen_images(spark, 300, with_bytes=False, partitions=4)
    polygons = polygon_layer_from_descs(datagen.gen_descs(spark))

    def process(part):
        return assign_images_to_tiles(part, polygons)

    with pytest.raises(RuntimeError, match='injected failure'):
        run_checkpointed(spark, images, process, out, lin,
                         n_buckets=6, run_id='r1', fail_after=2)
    assert len(lineage_metrics(spark, lin).collect()) == 2

    # Resume finishes only the remaining buckets.
    n2 = run_checkpointed(spark, images, process, out, lin,
                          n_buckets=6, run_id='r2')
    assert n2 == 4
    metrics = lineage_metrics(spark, lin).collect()
    buckets = [m['bucket'] for m in metrics]
    assert sorted(buckets) == list(range(6))       # no double-counting
    assert all(m['n_in'] == m['n_out'] for m in metrics)

    # Resumed output == single-shot run, row for row.
    resumed = load_output(spark, out).select('image_id', 'trs', 'qq')
    oneshot = assign_images_to_tiles(images, polygons) \
        .select('image_id', 'trs', 'qq')
    assert resumed.exceptAll(oneshot).isEmpty()
    assert oneshot.exceptAll(resumed).isEmpty()

    # Fully-caught-up rerun is a no-op.
    assert run_checkpointed(spark, images, process, out, lin,
                            n_buckets=6, run_id='r3') == 0


def test_lineage_stale_partition_cleared_on_rerun(spark, tmp_path):
    """A rerun whose process() emits zero rows for a bucket must clear
    that bucket's stale partition from the crashed prior attempt
    (dynamic partition overwrite alone would leave it: it only
    rewrites partitions present in the new output)."""
    out = str(tmp_path / 'out')
    lin = str(tmp_path / 'lineage')
    images = datagen.gen_images(spark, 120, with_bytes=False,
                                partitions=4)

    # Crashed attempt: bucket 0 wrote output but its lineage row was
    # never appended (simulated by writing the partition by hand).
    stale = images.limit(7).withColumn('bucket', F.lit(0))
    stale.write.mode('overwrite').partitionBy('bucket').parquet(out)
    assert spark.read.parquet(out).count() == 7

    # Rerun: process drops every row -> bucket 0's output is
    # legitimately empty this time.
    n = run_checkpointed(spark, images, lambda df: df.filter(F.lit(False)),
                         out, lin, n_buckets=3, run_id='rerun')
    assert n == 3
    metrics = {m['bucket']: m for m in lineage_metrics(spark, lin).collect()}
    assert all(metrics[b]['n_out'] == 0 for b in range(3))
    # The stale partition is gone and the committed counts are honest.
    try:
        n_left = spark.read.parquet(out).count()
    except Exception:
        n_left = 0
    assert n_left == 0


def test_lineage_all_empty_first_run(spark, tmp_path):
    """A first run whose entire output is empty must commit cleanly
    (no schema-inference failure on the read-back)."""
    out = str(tmp_path / 'out2')
    lin = str(tmp_path / 'lineage2')
    images = datagen.gen_images(spark, 50, with_bytes=False, partitions=2)
    n = run_checkpointed(spark, images, lambda df: df.filter(F.lit(False)),
                         out, lin, n_buckets=4, run_id='empty')
    assert n == 4
    metrics = lineage_metrics(spark, lin).collect()
    assert len(metrics) == 4
    assert all(m['n_out'] == 0 and m['checksum'] == 0 for m in metrics)


# ---------------------------------------------------------------- G19

def test_zonal_pixel_stats_exact(spark):
    import numpy as np
    from pytrs_spark import imagecodec
    from pytrs_spark.raster import zonal_pixel_stats

    def img(seed, h, w):
        flat = ((seed + np.arange(h * w * 3)) % 251).astype(np.uint8)
        return imagecodec.encode(flat.reshape(h, w, 3), 'png')

    images = spark.createDataFrame(
        [('a', img(5, 4, 4)), ('b', img(9, 2, 8)),
         ('c', img(0, 3, 3)), ('d', None)],
        'image_id string, bytes binary')
    assigned = spark.createDataFrame(
        [('a', 't1', 'NE'), ('b', 't1', 'NE'),
         ('c', 't2', 'SW'), ('d', 't2', 'SW'),
         ('zz', 't3', 'NW')],   # no image row -> dropped
        'image_id string, trs string, qq string')
    rows = {(r['trs'], r['qq']): r for r in
            zonal_pixel_stats(assigned, images).collect()}

    def psum(seed, n):
        return int(sum((seed + k) % 251 for k in range(n)))

    assert set(rows) == {('t1', 'NE'), ('t2', 'SW')}
    r1 = rows[('t1', 'NE')]
    assert (r1['n_images'], r1['n_px']) == (2, 48 + 48)
    assert r1['px_sum'] == psum(5, 48) + psum(9, 48)
    assert r1['px_mean'] == r1['px_sum'] / 96
    r2 = rows[('t2', 'SW')]   # null-bytes image dropped
    assert (r2['n_images'], r2['n_px']) == (1, 27)
    assert r2['px_sum'] == psum(0, 27)


def test_zonal_bytes_never_ride_a_shuffle(spark):
    # The decode collapses each blob to two longs inside the scan
    # stage: no Exchange in the plan may carry the binary column.
    import numpy as np
    from pytrs_spark import imagecodec
    from pytrs_spark.raster import zonal_pixel_stats

    def img(seed):
        flat = ((seed + np.arange(48)) % 251).astype(np.uint8)
        return imagecodec.encode(flat.reshape(4, 4, 3), 'png')

    images = spark.createDataFrame(
        [(f'i{n}', img(n)) for n in range(64)],
        'image_id string, bytes binary')
    assigned = spark.createDataFrame(
        [(f'i{n}', f't{n % 4}', 'NE') for n in range(64)],
        'image_id string, trs string, qq string')
    root = zonal_pixel_stats(assigned, images) \
        ._jdf.queryExecution().executedPlan()

    shuffles = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if 'ShuffleExchange' in name:
            shuffles.append(node)
        if 'AdaptiveSparkPlan' in name:
            # AQE wraps the tree; its children() is empty until the
            # query runs -- inspect the initial plan instead (bytes
            # must stay out of every shuffle in ANY chosen plan).
            walk(node.initialPlan())
        for i in range(node.children().length()):
            walk(node.children().apply(i))

    walk(root)
    assert shuffles, 'expected at least the final per-tile agg shuffle'
    for node in shuffles:
        out = node.output().mkString(', ')
        assert 'bytes#' not in out, out
