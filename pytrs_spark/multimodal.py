"""Multimodal column operators: typed binary payloads + Arrow-batched
decode / feature-extract / frame-sample.

Images are real end-to-end against the deterministic SGI1 codec
(:mod:`.imagecodec`); audio/video decode of real container formats is
STUBBED (no libav/PIL in this container) behind
``NotImplementedError`` with a deterministic fake for the synthetic
format, so the Spark-side plumbing -- schemas, ``mapInPandas`` batch
shapes, partition behavior -- is real and tested.
"""

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from . import imagecodec

# --- image features ----------------------------------------------------

_FEATURE_SCHEMA = ('image_id string, w int, h int, mean_r double, '
                   'mean_g double, mean_b double, brightness double')


def image_features(images: DataFrame) -> DataFrame:
    """Decode each image and extract per-channel mean features.

    ``mapInPandas`` so decode stays inside one Arrow batch and only
    (image_id, bytes) columns are scanned (column pruning)."""

    def extract(batches):
        for pdf in batches:
            rows = []
            for iid, blob in zip(pdf['image_id'], pdf['bytes']):
                if blob is None:
                    continue
                px = imagecodec.decode(bytes(blob)).astype(np.float64)
                means = px.mean(axis=(0, 1))
                rows.append((iid, px.shape[1], px.shape[0],
                             means[0], means[1], means[2],
                             float(px.mean())))
            yield pd.DataFrame(rows, columns=[
                'image_id', 'w', 'h', 'mean_r', 'mean_g', 'mean_b',
                'brightness'])

    return images.select('image_id', 'bytes') \
        .mapInPandas(extract, schema=_FEATURE_SCHEMA)


# --- video (synthetic container; real codecs stubbed) -------------------

VIDEO_MAGIC = b'SGV1'


def encode_fake_video(frames: np.ndarray) -> bytes:
    """(n, h, w, 3) uint8 -> deterministic SGV1 container bytes (the
    video analogue of the SGI1 image codec)."""
    n, h, w = frames.shape[:3]
    return (VIDEO_MAGIC + struct.pack('<HHH', n, w, h)
            + zlib.compress(frames.tobytes(), level=1))


def _decode_fake_video(data: bytes) -> np.ndarray:
    n, w, h = struct.unpack('<HHH', data[4:10])
    raw = np.frombuffer(zlib.decompress(data[10:]), dtype=np.uint8)
    return raw.reshape(n, h, w, 3)


def decode_video_real(data: bytes) -> np.ndarray:
    """STUB: real MP4/WebM decode needs libav/ffmpeg bindings (not in
    this container).  On a cluster, ship ``av`` / ``decord`` with
    ``spark-submit --py-files`` and replace this body."""
    raise NotImplementedError(
        'Real video decode needs libav bindings; see docstring for the '
        'cluster deployment path.')


_FRAME_SCHEMA = ('video_id string, frame_idx int, w int, h int, '
                 'frame binary')


def sample_video_frames(videos: DataFrame, every_nth: int = 10,
                        id_col: str = 'video_id',
                        bytes_col: str = 'bytes') -> DataFrame:
    """Frame-sample each video (every_nth frame), one output row per
    sampled frame, frames re-encoded as lossless SGI1 images.

    Real container formats raise through :func:`decode_video_real`;
    the SGV1 synthetic container exercises the full plumbing."""
    if every_nth < 1:
        raise ValueError(f'every_nth must be >= 1, got {every_nth}')

    def sample(batches):
        for pdf in batches:
            rows = []
            for vid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                data = bytes(blob)
                if data[:4] == VIDEO_MAGIC:
                    frames = _decode_fake_video(data)
                else:
                    frames = decode_video_real(data)
                for idx in range(0, len(frames), every_nth):
                    f = frames[idx]
                    rows.append((vid, idx, f.shape[1], f.shape[0],
                                 imagecodec.encode(f, 'png')))
            yield pd.DataFrame(rows, columns=[
                'video_id', 'frame_idx', 'w', 'h', 'frame'])

    return videos.select(id_col, bytes_col) \
        .mapInPandas(sample, schema=_FRAME_SCHEMA)


# --- audio (synthetic container; real codecs stubbed) -------------------

AUDIO_MAGIC = b'SGA1'


def encode_fake_audio(samples: np.ndarray, sample_rate: int = 16000) \
        -> bytes:
    """(n,) int16 mono PCM -> deterministic SGA1 container bytes (the
    audio analogue of SGI1/SGV1)."""
    samples = np.asarray(samples, dtype='<i2')
    return (AUDIO_MAGIC + struct.pack('<IH', len(samples), sample_rate)
            + zlib.compress(samples.tobytes(), level=1))


def _decode_fake_audio(data: bytes):
    n, rate = struct.unpack('<IH', data[4:10])
    pcm = np.frombuffer(zlib.decompress(data[10:]), dtype='<i2')[:n]
    return pcm, rate


def decode_audio_real(data: bytes):
    """STUB: real WAV/MP3/FLAC decode needs soundfile/libsndfile or
    ffmpeg bindings (not in this container).  On a cluster, ship the
    codec package with ``spark-submit --py-files`` and replace this
    body."""
    raise NotImplementedError(
        'Real audio decode needs codec bindings; see docstring for the '
        'cluster deployment path.')


_AUDIO_SCHEMA = ('audio_id string, window_idx int, start_ms double, '
                 'rms double, zero_crossings int, peak int')


def audio_window_features(audio: DataFrame, window_ms: int = 250,
                          id_col: str = 'audio_id',
                          bytes_col: str = 'bytes') -> DataFrame:
    """Windowed audio features: one output row per ``window_ms`` slice
    -- RMS level, zero-crossing count, peak amplitude (the standard
    cheap speech/music/silence discriminators for corpus filtering).

    Same plumbing contract as the image/video legs: ``mapInPandas``
    over only (id, bytes), decode per Arrow batch, numpy-vectorized
    per window; real container formats raise through
    :func:`decode_audio_real`, the SGA1 synthetic container exercises
    the full path."""

    def extract(batches):
        for pdf in batches:
            c_id, c_wi, c_st, c_rms, c_zc, c_pk = \
                [], [], [], [], [], []
            for aid, blob in zip(pdf[id_col], pdf[bytes_col]):
                if blob is None:
                    continue
                data = bytes(blob)
                if data[:4] == AUDIO_MAGIC:
                    pcm, rate = _decode_fake_audio(data)
                else:
                    pcm, rate = decode_audio_real(data)
                win = max(1, rate * window_ms // 1000)
                n = len(pcm)
                n_win = (n + win - 1) // win
                if n_win == 0:
                    continue
                # One set of whole-clip array ops instead of a
                # Python loop per 250 ms window (a 10-minute clip is
                # thousands of windows); windows emit as flat numpy
                # columns, the T37 window-stream pattern.
                # Zero-padding is safe for the sums (adds 0) and
                # masked out elsewhere.
                x = np.zeros(n_win * win, dtype=np.float64)
                x[:n] = pcm
                lens = np.full(n_win, win, dtype=np.int64)
                lens[-1] = n - (n_win - 1) * win
                rms = np.sqrt((x * x).reshape(n_win, win).sum(axis=1)
                              / lens)
                # zero crossings: sign transitions strictly inside a
                # window (the j -> j+1 step counts for window j//win
                # iff j+1 is in the same window) -- identical to the
                # per-window np.diff(signbit) count.
                sb = np.signbit(pcm)
                d = np.nonzero(sb[1:] != sb[:-1])[0]
                d = d[(d + 1) % win != 0]
                zc = np.bincount(d // win, minlength=n_win)
                # int32 abs: int16 np.abs wraps -32768 to itself and
                # a full-scale negative peak would report as 0.
                ap = np.zeros(n_win * win, dtype=np.int32)
                ap[:n] = np.abs(pcm.astype(np.int32))
                peak = ap.reshape(n_win, win).max(axis=1)
                idx = np.arange(n_win, dtype=np.int32)
                c_id.extend([aid] * n_win)
                c_wi.append(idx)
                # same association order as the scalar formula
                # (i * win * 1000.0 / rate) for bit-identical floats
                c_st.append(idx.astype(np.int64) * win * 1000.0
                            / rate)
                c_rms.append(rms)
                c_zc.append(zc.astype(np.int32))
                c_pk.append(peak)
            yield pd.DataFrame({
                'audio_id': c_id,
                'window_idx': np.concatenate(c_wi) if c_wi
                else np.empty(0, np.int32),
                'start_ms': np.concatenate(c_st) if c_st
                else np.empty(0, np.float64),
                'rms': np.concatenate(c_rms) if c_rms
                else np.empty(0, np.float64),
                'zero_crossings': np.concatenate(c_zc) if c_zc
                else np.empty(0, np.int32),
                'peak': np.concatenate(c_pk) if c_pk
                else np.empty(0, np.int32)})

    return audio.select(id_col, bytes_col) \
        .mapInPandas(extract, schema=_AUDIO_SCHEMA)


# --- joint image+caption dedup (G21) -------------------------------------
#
# LAION-style multimodal dedup: an image-caption pair is a duplicate
# both of visually-near-identical images (perceptual-hash Hamming
# pairs, G16) AND of re-posts carrying the exact same caption text
# (alt-text travels with the image across mirrors even when
# re-encoding shifts a few phash bits).  The edge set is the UNION of
# the two modalities, the policy is one transitive keep-one over it:
# caption equality bridges clusters phash alone cannot, and vice
# versa.
#
# Scale notes:
# - Caption-equal groups are the classic hot key ("no caption", "IMG",
#   stock alt-text repeated 10^7 times).  Emitting the group's PAIRS
#   is quadratic; a STAR (member -> group-min) is |group|-1 edges and
#   preserves exactly the same connectivity, so the closure -- and
#   therefore the final labels -- are identical.
# - Captions group by a 128-bit key (two independent xxhash64
#   channels): caption text never rides the shuffle, and the
#   two-channel key keeps the accidental-merge probability negligible
#   at 10^12 rows where a single 64-bit hash would already expect
#   birthday collisions.
# - Null/empty captions are NOT duplicates of each other (absence of
#   a caption is absence of evidence): they take no caption edges.


def caption_dup_edges(images: DataFrame, id_col: str = 'image_id',
                      caption_col: str = 'caption') -> DataFrame:
    """Star edges ``(id_a=group min, id_b=member)`` per exact
    normalized-caption group; null/empty captions take no edges."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .operators.textops import normalized_text
    norm = normalized_text(F.col(caption_col))
    df = (images.select(F.col(id_col),
                        F.xxhash64(norm).alias('_c1'),
                        F.xxhash64(norm, F.lit(1)).alias('_c2'))
          .filter(norm.isNotNull() & (norm != '')))
    rep = F.min(id_col).over(Window.partitionBy('_c1', '_c2'))
    return (df.withColumn('_rep', rep)
            .filter(F.col(id_col) != F.col('_rep'))
            .select(F.col('_rep').alias('id_a'),
                    F.col(id_col).alias('id_b')))


def joint_keep_one(images: DataFrame, id_col: str = 'image_id',
                   phash_col: str = 'phash',
                   caption_col: str = 'caption',
                   max_hamming: int = 4, **hamming_kwargs) -> DataFrame:
    """Transitive keep-one over the union of phash-Hamming pairs and
    exact-caption star edges (spec above).  Returns ``images``'s
    columns + ``component_id`` + ``kept``; ``.filter('kept')`` is the
    deduplicated corpus."""
    from .operators.textops import hamming_near_dup_pairs, keep_one
    img_pairs = hamming_near_dup_pairs(
        images, id_col=id_col, hash_col=phash_col,
        max_hamming=max_hamming, **hamming_kwargs) \
        .select('id_a', 'id_b')
    edges = img_pairs.unionByName(
        caption_dup_edges(images, id_col=id_col,
                          caption_col=caption_col))
    return keep_one(images, edges, id_col=id_col)


# --- image-caption alignment (CLIP-score curation) ----------------------
#
# LAION-style corpus curation: every (image, caption) row carries two
# embedding columns from a dual encoder, the alignment score is their
# cosine, and rows below a threshold are dropped before training
# (LAION-5B kept CLIP B/32 cosine >= 0.28; Schuhmann et al. 2022 §3).
# Two calibration modes:
#
# - fixed threshold (``threshold=``): keep ``score >= t``.  Pure
#   scan-stage work -- the Arrow crossing ships the two vectors in and
#   8 bytes out, ZERO exchange; column pruning and partition pruning
#   are unaffected because the score never feeds a shuffle key.  This
#   is the production path at 10^12 rows.
# - per-group top fraction (``top_frac=``, ``by=``): keep the
#   ``ceil(q * n)`` best-aligned rows per group (e.g. per language --
#   one global threshold under-selects languages the encoder is weaker
#   at).  Deterministic ``(score desc, id asc)`` rank + non-null score
#   count share ONE hash exchange on the group key; groups are the
#   parallelism unit.  A group is sorted within its partitions, so at
#   extreme single-group cardinality (one language is half the corpus)
#   the right scale move is to calibrate that group's threshold from a
#   sample and re-run it through the threshold mode -- this operator
#   is the building block for both.
#
# Null semantics: a null / ragged / zero-norm vector has no cosine;
# its row scores null and is never kept (absence of evidence), and it
# does not count toward a group's ``n`` in top-fraction mode.
#
# The cosine is the batch-matmul float64 kernel shared with the ANN
# suite (``operators/ann.py``) -- NOT an ``aggregate(zip_with(...))``
# HOF chain, which pays dim interpreted lambdas per row (the
# measured-100x pathology documented there).


def alignment_scores(pairs: DataFrame, left_col: str = 'image_emb',
                     right_col: str = 'caption_emb',
                     out_col: str = 'alignment') -> DataFrame:
    """Append the cosine alignment of two embedding columns."""
    from .operators.ann import cosine
    return pairs.withColumn(out_col, cosine(left_col, right_col))


def alignment_filter(pairs: DataFrame, left_col: str = 'image_emb',
                     right_col: str = 'caption_emb',
                     threshold: float = None, top_frac: float = None,
                     by=None, id_col: str = 'image_id',
                     out_col: str = 'alignment') -> DataFrame:
    """Keep well-aligned (image, caption) rows (spec above).

    Exactly one of ``threshold`` / ``top_frac`` must be given;
    ``top_frac`` requires a group key ``by``.  Returns the input
    columns + ``out_col``.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if (threshold is None) == (top_frac is None):
        raise ValueError('pass exactly one of threshold= / top_frac=')
    if threshold is not None:
        # score-then-filter scan shape: use the Catalyst-barrier
        # clone so the kernel runs ONCE (a filter on a deterministic
        # UDF column is pushed below the projection and re-evaluates
        # it -- see operators/ann.py cosine_scan)
        from .operators.ann import cosine_scan
        scored = pairs.withColumn(out_col,
                                  cosine_scan(left_col, right_col))
        return scored.filter(F.col(out_col) >= float(threshold))
    scored = alignment_scores(pairs, left_col, right_col, out_col)
    keys = [by] if isinstance(by, str) else list(by or ())
    if not keys:
        raise ValueError('top_frac mode needs a group key (by=...)')
    if not 0.0 < top_frac <= 1.0:
        raise ValueError('top_frac must be in (0, 1]')
    grp = Window.partitionBy(*keys)
    rk = F.row_number().over(
        grp.orderBy(F.col(out_col).desc_nulls_last(), F.col(id_col)))
    n = F.count(out_col).over(grp)  # non-null scores only
    # ceil on exact-rational intent: the double product can land just
    # ABOVE an integer (0.07 * 100 = 7.000000000000001 -> ceil 8,
    # keeping one extra row); nudge below the integer before ceil.
    # The oracle applies the same epsilon.
    keep = (F.col(out_col).isNotNull()
            & (rk <= F.ceil(F.lit(float(top_frac)) * n
                            - F.lit(1e-9))))
    return (scored.withColumn('_keep', keep)
            .filter('_keep').drop('_keep'))


def alignment_threshold_from_sample(
        pairs: DataFrame, by, top_frac: float, sample_rate: float,
        key_col: str = 'image_id', left_col: str = 'image_emb',
        right_col: str = 'caption_emb', salt: int = 0,
        out_col: str = 'threshold') -> DataFrame:
    """Per-group alignment threshold calibrated from a deterministic
    hash sample -- the scale move for ``top_frac`` mode's extreme
    groups (spec above: when one group is half the corpus, ranking it
    costs a corpus-scale sort; sampling its score distribution and
    re-running THRESHOLD mode costs a scan).

    Method: keep the ``sample_rate`` hash-sample of ``key_col``
    (``sample_by_hash`` -- stable under repartitioning, pure scan
    filter), score it, and per group take the score at deterministic
    rank ``ceil(top_frac * n_sampled - 1e-9)`` under
    ``(score desc, key asc)`` -- the sampled estimate of the
    ``top_frac`` quantile boundary, same epsilon convention as
    ``alignment_filter``.  Returns one row per group that had at
    least one valid sampled score: ``(by..., <out_col>, n_sampled)``.
    Groups with NO sampled valid score get no row (absence of
    evidence; size ``sample_rate`` so every group of interest is
    hit -- this is a calibration for LARGE groups by construction).

    Scale shape: the only exchange is the group-key hash of the
    SAMPLED rows (~``sample_rate`` x corpus); the output is
    |groups|-bounded and broadcastable -- see
    :func:`alignment_filter_calibrated`.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .operators.sampling import sample_by_hash
    keys = [by] if isinstance(by, str) else list(by or ())
    if not keys:
        raise ValueError('calibration needs a group key (by=...)')
    if not 0.0 < top_frac <= 1.0:
        raise ValueError('top_frac must be in (0, 1]')
    samp = sample_by_hash(pairs, key_col, sample_rate, salt)
    scored = alignment_scores(samp, left_col, right_col, '_s')
    grp = Window.partitionBy(*keys)
    rk = F.row_number().over(
        grp.orderBy(F.col('_s').desc_nulls_last(), F.col(key_col)))
    n = F.count('_s').over(grp)
    # rank == boundary selects exactly the quantile row; the
    # null-exclusion rides the rank (nulls sort last), evaluated
    # ABOVE the window so the scoring UDF runs once (see
    # operators/ann.py _rank_topk for the double-eval pathology).
    return (scored.withColumn('_rk', rk).withColumn('_n', n)
            .filter(F.col('_s').isNotNull()
                    & (F.col('_rk') == F.ceil(
                        F.lit(float(top_frac)) * F.col('_n')
                        - F.lit(1e-9))))
            .select(*keys, F.col('_s').alias(out_col),
                    F.col('_n').alias('n_sampled')))


def alignment_filter_calibrated(
        pairs: DataFrame, by, top_frac: float, sample_rate: float,
        key_col: str = 'image_id', left_col: str = 'image_emb',
        right_col: str = 'caption_emb', salt: int = 0,
        out_col: str = 'alignment') -> DataFrame:
    """Sample-calibrate per-group thresholds, then keep rows through
    THRESHOLD mode's plan shape: score in the scan stage, broadcast
    the |groups|-row threshold table, filter ``score >= threshold``.
    ZERO exchange on the corpus side (the sample leg's group hash is
    ~``sample_rate`` of the corpus) -- vs a corpus-scale group sort
    in exact ``top_frac`` mode.  Keeps ~``top_frac`` of each group
    (sampling error; exactness is what the corpus-sort buys).  Rows
    in groups without a calibrated threshold drop.
    """
    from pyspark.sql import functions as F

    from .operators.ann import cosine_scan
    keys = [by] if isinstance(by, str) else list(by or ())
    thr = alignment_threshold_from_sample(
        pairs, keys, top_frac, sample_rate, key_col=key_col,
        left_col=left_col, right_col=right_col, salt=salt,
        out_col='_thr')
    # corpus side scores through the scan-stage barrier clone (one
    # kernel evaluation; the >= join condition would otherwise push
    # an inferred isnotnull(UDF) below the projection)
    scored = pairs.withColumn(out_col, cosine_scan(left_col, right_col))
    return (scored.join(F.broadcast(thr.select(*keys, '_thr')), keys)
            .filter(F.col(out_col) >= F.col('_thr'))
            .drop('_thr'))
