"""The materialization lifecycle (``pytrs_spark/lifecycle.py``).

Rule: everything an operator materializes for its own use is freed
before it returns, and its output may read checkpoints but never a
persisted table.  Each case runs one operator on a small input, counts
its output, and compares the sets of persistent RDD ids and of
CacheManager entries before and after: every new persistent RDD must be
a checkpoint leaf (``LogicalRDD``) of the output's analyzed plan, and
the CacheManager must gain nothing.  Sets, not sizes, so RDDs that the
ContextCleaner frees from earlier tests cannot flake a case.
"""

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from pytrs_spark.datagen import X0, Y0
from pytrs_spark.operators import ann, io, sampling, stats, textops
from pytrs_spark.spatial.dbscan import dbscan
from pytrs_spark.spatial.grid import cell_id
from pytrs_spark.spatial.join import assign_tiles_fused
from pytrs_spark.spatial.knn import knn_section_corners

_TEXTS = ['the quick brown fox jumps over the lazy dog',
          'the quick brown fox jumps over the lazy cat',
          'a completely different sentence about maps',
          'the quick brown fox jumps over the lazy dog']


def _docs(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(_TEXTS * 3)],
                                 'doc_id long, text string')


def _chain(spark, n=40):
    return spark.createDataFrame([(i, i + 1) for i in range(n)],
                                 'id_a long, id_b long')


def _points(spark):
    pts = [(1, 5.0, 5.0), (2, 5.1, 5.0), (3, 5.0, 5.1), (4, 5.1, 5.1),
           (10, 5.35, 5.25), (20, 20.0, 20.0), (21, 20.1, 20.0),
           (22, 20.0, 20.1), (99, 40.0, 40.0)]
    return spark.createDataFrame(
        [(i, X0 + x, Y0 + y) for i, x, y in pts],
        'id long, x double, y double')


def _corpus(spark):
    return spark.createDataFrame(
        [(f'v{i:02d}', [float((i * 7 + j * 3) % 11 - 5)
                        for j in range(8)]) for i in range(30)],
        'vec_id string, embedding array<double>')


def _layer(spark):
    """Two one-mile boxes under ``_points``' two clusters."""
    boxes = [('a', X0 + 5, Y0 + 5), ('b', X0 + 20, Y0 + 20)]
    return spark.createDataFrame(
        [(trs, 'NENE', x, y, x + 1, y + 1, [x, x + 1, x + 1, x],
          [y, y, y + 1, y + 1]) for trs, x, y in boxes],
        'trs string, qq string, xmin double, ymin double, xmax double, '
        'ymax double, ring_xs array<double>, ring_ys array<double>')


def _tracts(spark):
    return spark.range(0, 60, 1, 4).select(
        (F.col('id') / 6).cast('long').alias('doc_id'),
        F.lit('154n97w01').alias('trs'), F.col('id').alias('orig_index'))


def _groups(spark):
    return spark.range(0, 400).select(
        'id', F.when(F.col('id') % 3 == 0, 'a').otherwise('b').alias('g'),
        (F.col('id') % 5 + 1).alias('w'))


OPERATORS = {
    'ngram_jaccard_pairs': lambda spark: textops.ngram_jaccard_pairs(
        _docs(spark)),
    'minhash_lsh_candidates': lambda spark:
        textops.minhash_lsh_candidates(_docs(spark)),
    'minhash_lsh_candidates_prefilter': lambda spark:
        textops.minhash_lsh_candidates(_docs(spark), min_sig_matches=8),
    'near_duplicate_pairs': lambda spark: textops.near_duplicate_pairs(
        _docs(spark)),
    'simhash_near_dup_pairs': lambda spark:
        textops.simhash_near_dup_pairs(_docs(spark)),
    'connected_components_local': lambda spark:
        textops.connected_components(_chain(spark)),
    'connected_components_distributed': lambda spark:
        textops.connected_components(_chain(spark), local_max_edges=0),
    'assign_tiles_fused': lambda spark: assign_tiles_fused(
        _points(spark).select(F.col('id').alias('image_id'), 'x', 'y',
                              cell_id(F.col('x'), F.col('y'), 9)
                              .alias('cell9')),
        _layer(spark), payload_cols=()),
    'dbscan': lambda spark: dbscan(_points(spark), eps=0.3, min_pts=3),
    'knn_section_corners': lambda spark: knn_section_corners(
        _points(spark).withColumnRenamed('id', 'image_id'), k=5),
    'weighted_sample': lambda spark: sampling.weighted_sample(
        _groups(spark), 'id', 'w', k=20),
    'mixture_sample': lambda spark: sampling.mixture_sample(
        _groups(spark), 'g', 'id', {'a': 0.5, 'b': 0.5}, budget=40),
    'quantiles_exact': lambda spark: stats.quantiles_exact(
        _groups(spark), 'id', [0.1, 0.5, 0.9], collect_limit=16),
    'stringify_tracts': lambda spark: io.stringify_tracts(
        _tracts(spark), ['trs'], doc_col='doc_id', include_uid=True),
    'shard_by_bytes': lambda spark: io.shard_by_bytes(
        _groups(spark).select(F.col('id').cast('string').alias('k'),
                              F.col('w').alias('nb')),
        'nb', 'k', n_shards=3),
    'lsh_bucket_topk': lambda spark: ann.lsh_bucket_topk(
        _corpus(spark), _corpus(spark).limit(3)
        .withColumnRenamed('vec_id', 'query_id'), dim=8, k=3, planes=2,
        tables=4),
}


def _persistent_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _cache_entries(spark):
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField('cachedData')
    field.setAccessible(True)
    data = field.get(cm)
    ident = spark._jvm.System.identityHashCode
    return {ident(data.apply(i)) for i in range(data.size())}


def _checkpoint_leaf_ids(df):
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {leaves.apply(i).rdd().id() for i in range(leaves.length())
            if leaves.apply(i).getClass().getSimpleName() == 'LogicalRDD'}


@pytest.mark.parametrize('name', sorted(OPERATORS))
def test_operator_leaves_nothing_materialized(spark, name):
    ids, cached = _persistent_ids(spark), _cache_entries(spark)
    out = OPERATORS[name](spark)
    out.count()
    new = _persistent_ids(spark) - ids
    assert new <= _checkpoint_leaf_ids(out), (name, new)
    assert _cache_entries(spark) == cached, name


def test_connected_components_raise_frees_generations(spark):
    ids, cached = _persistent_ids(spark), _cache_entries(spark)
    with pytest.raises(RuntimeError, match='did not converge'):
        textops.connected_components(_chain(spark), max_iters=1,
                                     local_max_edges=0)
    assert not _persistent_ids(spark) - ids
    assert _cache_entries(spark) == cached


def test_no_materialization_outside_lifecycle():
    """Only ``lifecycle.py`` persists, checkpoints or frees."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / 'pytrs_spark'
    call = re.compile(r'persist\(|\.cache\(|localCheckpoint\(')
    hits = [f'{path.relative_to(pkg)}:{n}'
            for path in sorted(pkg.rglob('*.py'))
            if path.name != 'lifecycle.py'
            for n, line in enumerate(path.read_text().splitlines(), 1)
            if call.search(line)]
    assert not hits, hits
