"""G8: raster <-> vector tile materialization (SURVEY.md §2.7).

Two operators over the image table + tile assignments, both Arrow-
batched (grouped-map / scalar pandas UDFs; no per-row Python outside
the numpy kernels; cf. Raptor VLDB'19 raster+vector pattern in
PAPERS.md):

- :func:`regrid_images` -- per-image decode -> regrid (nearest-
  neighbour resample) -> re-encode in the same format.  The lossy
  round trip must hold PSNR >= 40 dB (input_hint invariant; the
  SGI1 lossy mode measures ~44 dB).

- :func:`materialize_tiles` -- one raster tile per (trs, qq) aliquot:
  every image assigned to the tile is decoded, regridded to a fixed
  patch, and composited into the tile raster at the image's anchor
  position within the aliquot box (painter's order = ascending
  image_id, so output bytes are deterministic under any parallelism).
  Output is lossless-encoded, so decode(tile) is exactly the composite.

``bytes`` enters the plan only here (late projection): the join /
assignment pipeline runs on a bytes-free projection and this stage
re-joins ``bytes`` by image_id.  It does not ride the spatial join's
shuffle, but :func:`materialize_tiles` carries it through its own
``Exchange hashpartitioning(trs, qq)`` into the grouped map, which
decodes and regrids every image there; at 100 TB that exchange moves
the whole binary column.
"""

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import imagecodec

_REGRID_RESULT = T.StructType([
    T.StructField('bytes', T.BinaryType()),
    T.StructField('psnr_db', T.DoubleType()),
])


def regrid_images(images: DataFrame, out_h: int = 32,
                  out_w: int = 32) -> DataFrame:
    """Decode -> regrid -> re-encode each image; adds ``bytes_regrid``
    and ``psnr_db`` (regridded pixels vs their encode round trip)."""

    @F.pandas_udf(_REGRID_RESULT)
    def kernel(blobs: pd.Series, fmts: pd.Series) -> pd.DataFrame:
        out_bytes, out_psnr = [], []
        for blob, fmt in zip(blobs, fmts):
            if blob is None:
                out_bytes.append(None)
                out_psnr.append(None)
                continue
            pixels = imagecodec.decode(bytes(blob))
            re = imagecodec.regrid(pixels, out_h, out_w)
            enc = imagecodec.encode(re, fmt)
            out_psnr.append(imagecodec.psnr(re, imagecodec.decode(enc)))
            out_bytes.append(enc)
        return pd.DataFrame({'bytes': out_bytes, 'psnr_db': out_psnr})

    res = kernel(F.col('bytes'), F.col('fmt'))
    return images.withColumn('_r', res) \
        .withColumn('bytes_regrid', F.col('_r')['bytes']) \
        .withColumn('psnr_db', F.col('_r')['psnr_db']).drop('_r')


_TILE_SCHEMA = ('trs string, qq string, n_images long, w int, h int, '
                'tile binary, checksum long')


def materialize_tiles(assignments: DataFrame, images: DataFrame,
                      tile_px: int = 64, patch_px: int = 16) -> DataFrame:
    """One composited raster tile per (trs, qq).

    ``assignments``: output of the tile-assignment stage -- needs
    ``image_id, trs, qq, x, y`` plus the aliquot box ``xmin, ymin,
    xmax, ymax``.  ``images``: the raw table (only ``image_id, bytes``
    are read -- column pruning keeps the rest out of the scan).

    Grouped-map pandas UDF per tile; painter's order ascending
    image_id makes the composite deterministic.  The shuffle key is
    (trs, qq) -- dense tiles are bounded by the assignment stage's
    skew handling upstream, and a tile's images must colocate anyway
    to composite.  The raw ``bytes`` ride that shuffle: each image is
    decoded and regridded inside the grouped map, after the exchange.
    """
    need = assignments.select('image_id', 'trs', 'qq', 'x', 'y',
                              'xmin', 'ymin', 'xmax', 'ymax')
    withbytes = need.join(images.select('image_id', 'bytes'), 'image_id')

    def composite(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values('image_id')
        raster = np.zeros((tile_px, tile_px, 3), dtype=np.uint8)
        x0 = float(pdf['xmin'].iloc[0])
        y0 = float(pdf['ymin'].iloc[0])
        x1 = float(pdf['xmax'].iloc[0])
        y1 = float(pdf['ymax'].iloc[0])
        sx = tile_px / (x1 - x0)
        sy = tile_px / (y1 - y0)
        # zip over plain arrays: per-image decode is inherent, but
        # iterrows adds a pandas Series construction per row.
        for buf, x, y in zip(pdf['bytes'].to_numpy(),
                             pdf['x'].to_numpy(), pdf['y'].to_numpy()):
            if buf is None:
                continue
            patch = imagecodec.regrid(
                imagecodec.decode(bytes(buf)), patch_px, patch_px)
            # Anchor -> pixel position (y axis flips: raster row 0 is
            # the north edge).
            px = int((x - x0) * sx)
            py = int((y1 - y) * sy)
            r0 = max(0, min(py - patch_px // 2, tile_px - patch_px))
            c0 = max(0, min(px - patch_px // 2, tile_px - patch_px))
            raster[r0:r0 + patch_px, c0:c0 + patch_px] = patch
        enc = imagecodec.encode(raster, 'png')   # lossless
        return pd.DataFrame([{
            'trs': pdf['trs'].iloc[0], 'qq': pdf['qq'].iloc[0],
            'n_images': len(pdf), 'w': tile_px, 'h': tile_px,
            'tile': enc,
            'checksum': np.int64(
                np.uint64(zlib.crc32(raster.tobytes()))
                ^ np.uint64(len(pdf))).item(),
        }])

    return withbytes.groupBy('trs', 'qq').applyInPandas(
        composite, schema=_TILE_SCHEMA)


_PX_STATS = T.StructType([
    T.StructField('n_px', T.LongType()),
    T.StructField('px_sum', T.LongType()),
])


def decode_pixel_stats(images: DataFrame,
                       bytes_col: str = 'bytes') -> DataFrame:
    """Per-image decoded-pixel reductions: adds ``n_px`` (decoded
    array element count, h*w*3) and ``px_sum`` (exact int64 sum of
    all channel values).  One Arrow-batched decode pass; each image
    collapses to two longs IN the scan stage, so the binary column
    never survives past the map side.  Rows with null ``bytes`` get
    null stats."""

    @F.pandas_udf(_PX_STATS)
    def kernel(blobs: pd.Series) -> pd.DataFrame:
        n_px, px_sum = [], []
        for blob in blobs:
            if blob is None:
                n_px.append(None)
                px_sum.append(None)
                continue
            arr = imagecodec.decode(bytes(blob))
            n_px.append(arr.size)
            px_sum.append(int(arr.sum(dtype=np.int64)))
        return pd.DataFrame({'n_px': n_px, 'px_sum': px_sum})

    res = kernel(F.col(bytes_col))
    return (images.withColumn('_s', res)
            .withColumn('n_px', F.col('_s')['n_px'])
            .withColumn('px_sum', F.col('_s')['px_sum']).drop('_s'))


def zonal_pixel_stats(assignments: DataFrame, images: DataFrame,
                      id_col: str = 'image_id',
                      bytes_col: str = 'bytes',
                      keys=('trs', 'qq')) -> DataFrame:
    """G19: zonal statistics -- per-aliquot aggregate of the decoded
    pixels of every image assigned to the tile (the raster half of
    the Raptor VLDB'19 raster+vector pattern: zonal stats over a
    polygon layer): ``(keys..., n_images, n_px, px_sum, px_mean)``.

    Scale shape: the ONLY stage that touches ``bytes`` is the
    per-image decode, which reduces each blob to two longs map-side
    (:func:`decode_pixel_stats` on a two-column projection of the
    raw table); the assignment join then carries (id, 2 longs) --
    at 100 TB the binary column never rides a shuffle (unlike
    :func:`materialize_tiles`, whose tile exchange carries it).  The
    final per-tile aggregate partial-aggregates map-side; its shuffle
    is bounded by tile count, never image count.  Images with null
    ``bytes`` are dropped (nothing to decode); assignment rows
    without a matching image are dropped by the inner join.
    """
    keys = list(keys)
    # Null-bytes rows are dropped on the NATIVE column BEFORE the
    # decode: null stats occur iff bytes is null (decode_pixel_stats
    # contract), and filtering on the UDF-derived ``n_px`` instead
    # gets pushed below the decode projection by Catalyst, which
    # re-evaluates the decode kernel -- the 100-TB-dominant stage --
    # a second time (two ArrowEvalPython nodes; same pathology as
    # operators/ann.py _rank_topk).  The bytes predicate also reaches
    # the parquet scan as a PushedFilter, which n_px never could.
    stats = decode_pixel_stats(
        images.select(id_col, bytes_col)
        .filter(F.col(bytes_col).isNotNull()), bytes_col) \
        .select(id_col, 'n_px', 'px_sum')
    joined = assignments.select(id_col, *keys).join(stats, id_col)
    return (joined.groupBy(*keys)
            .agg(F.count('*').alias('n_images'),
                 F.sum('n_px').alias('n_px'),
                 F.sum('px_sum').alias('px_sum'))
            .withColumn('px_mean',
                        F.col('px_sum') / F.col('n_px')))
