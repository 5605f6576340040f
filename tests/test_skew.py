"""G9 skew handling: the salted shuffle strategy must equal the
broadcast strategy row-for-row on a heavily skewed point distribution
(half of all images aimed at one section of the dense township), and
must really run a salted shuffle join."""

from pyspark.sql import functions as F

from pytrs_spark import datagen
from pytrs_spark.pipeline import (
    assign_images_to_tiles,
    polygon_layer_from_descs,
)
from pytrs_spark.spatial.join import cell_histogram, pick_salt_factor
from pytrs_spark.spatial.grid import with_anchor
from spatial_oracle import assert_shuffle_strategy


def test_salted_equals_broadcast_under_skew(spark):
    images = datagen.gen_images(spark, 2000, skew_fraction=0.5,
                                with_bytes=False, partitions=8).cache()
    polygons = polygon_layer_from_descs(datagen.gen_descs(spark)).cache()
    polygons.count()

    base = assign_images_to_tiles(images, polygons) \
        .select('image_id', 'trs', 'qq')
    salted = assign_images_to_tiles(images, polygons, salt=8) \
        .select('image_id', 'trs', 'qq')
    assert base.count() == 2000
    assert base.exceptAll(salted).isEmpty()
    assert salted.exceptAll(base).isEmpty()
    # The hot cell spreads over the salt: a sort-merge join on
    # (cell, salt), not the broadcast join.
    assert_shuffle_strategy(salted, ('cell', 'salt'))

    # The skew slice is measurable and every caption's embedded
    # ground-truth tile matches the join's verdict.  The dense section
    # (1 mi = 16 res-9 cells) holds ~half of all points.
    joined = assign_images_to_tiles(images, polygons)
    dense = joined.filter(
        F.col('trs') == f'{datagen.DENSE_TWP}n{datagen.DENSE_RGE}w'
                        f'{datagen.DENSE_SEC:02d}').count()
    assert dense >= 900
    pts = with_anchor(images)
    hist = cell_histogram(pts).orderBy(F.desc('count')).first()
    assert hist['count'] >= 5 * (2000 / 4096)   # >=5x uniform cell load
    bad = joined.filter(
        ~F.col('caption').endswith(
            F.concat(F.col('trs'), F.lit(':'), F.col('qq'))))
    assert bad.isEmpty()


def test_pick_salt_factor_scales_with_skew(spark):
    uniform = with_anchor(datagen.gen_images(
        spark, 1000, skew_fraction=0.0, with_bytes=False, partitions=4))
    skewed = with_anchor(datagen.gen_images(
        spark, 1000, skew_fraction=0.5, with_bytes=False, partitions=4))
    s_uniform = pick_salt_factor(uniform, target_per_task=10)
    s_skewed = pick_salt_factor(skewed, target_per_task=10)
    assert s_skewed > s_uniform
