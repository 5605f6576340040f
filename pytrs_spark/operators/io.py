"""Bulk sources / sinks (SURVEY.md §2.1 S2-S5).

- :func:`read_plss_csv` / :func:`parse_plss_table` -- the reference's
  ``parse_csv`` (samples/csv_parser/parse_csv.py:29-120) re-expressed
  as ``spark.read.csv`` + one fused Arrow-batched parse with *per-row*
  config / layout override columns (ordinary columns, not plan
  parameters -- distinct configs are parsed once per Arrow batch and
  memoized).
- :func:`stringify_tracts` / :func:`write_tracts_csv` -- the
  ``TractWriter`` sink (tractwriter.py:135-171): attribute projection,
  list -> ``', '`` join, dict -> ``k:v`` stringification, optional UID
  ``'0001.a-d'`` (utils/__init__.py:53-71), all as native columns so
  the sink stays inside whole-stage codegen.
"""

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import lifecycle
from ..plss.config import parse_config
from .parse import _FULL_RESULT, _ensure_parallelism
from ..plss import document as doc_kernel
from ..plss import tract as tract_kernel
from ..plss import trs as trs_kernel


def _dynamic_parse_udf(default_config: str = None,
                       has_config_col: bool = False):
    """Fused parse with per-row config/layout strings.  Distinct
    config strings are memoized per batch (typically a handful of
    values across millions of rows)."""
    base = parse_config(default_config)

    @F.pandas_udf(_FULL_RESULT)
    def udf(texts: pd.Series, configs: pd.Series,
            layouts: pd.Series) -> pd.DataFrame:
        memo = {}

        def kwargs_for(cfg, layout):
            key = (cfg, layout)
            if key not in memo:
                # reference parse_csv semantics: when a config COLUMN
                # is wired, the row cell replaces config= for EVERY
                # row -- an empty/null cell parses with config ''
                # (parse_csv.py:189 assigns `config = row[...]`
                # unconditionally; only a missing column keeps
                # config=).  Without a config column, cfg is the
                # all-null literal and the table default applies.
                if has_config_col:
                    kw = parse_config(cfg or '')
                else:
                    kw = parse_config(cfg) if cfg else dict(base)
                if layout:
                    kw['layout'] = layout
                memo[key] = kw
            return memo[key]

        # Group the batch's rows by distinct (config, layout) and run
        # each group through the BATCHED kernel -- one combined
        # preprocess regex scan per group per Arrow batch, the same
        # path the static _full_parse_udf takes, instead of paying
        # the per-document scalar parse for every row.  Typical bulk
        # CSV ingests carry a handful of distinct configs across
        # millions of rows, so this is ~the static path's speed.
        groups = {}
        for i, (text, cfg, layout) in enumerate(
                zip(texts, configs, layouts)):
            key = (cfg or None, layout or None)
            groups.setdefault(key, ([], []))
            groups[key][0].append(i)
            groups[key][1].append(text or '')
        rows = [None] * len(texts)
        for (cfg, layout), (idxs, txts) in groups.items():
            kw = kwargs_for(cfg, layout)
            doc_kw = {k: kw[k] for k in
                      ('layout', 'default_ns', 'default_ew', 'ocr_scrub',
                       'require_colon', 'segment', 'sec_within', 'no_pm')
                      if k in kw}
            tract_kw = {k: kw[k] for k in
                        ('clean_qq', 'suppress_lot_divs', 'qq_depth',
                         'qq_depth_min', 'qq_depth_max', 'break_halves')
                        if k in kw}
            results = doc_kernel.parse_documents_kernel(txts, **doc_kw)
            for i, r in zip(idxs, results):
                tracts = []
                for t in r['tracts']:
                    d = trs_kernel.trs_decompose(t['trs'])
                    tp = tract_kernel.parse_tract(t['desc'], **tract_kw)
                    tracts.append((
                        d['trs'], t['desc'], t['sec_within'],
                        d['twp'], d['twp_num'], d['twp_ns'],
                        d['twp_undef'],
                        d['rge'], d['rge_num'], d['rge_ew'],
                        d['rge_undef'],
                        d['sec'], d['sec_num'], d['sec_undef'],
                        tp['lots'], tp['qqs'], tp['lot_acres'],
                        tp['aliquots_whole'], tp['pp_desc'],
                        tp['w_flags'], tp['w_flag_lines']))
                rows[i] = (tracts, r['w_flags'], r['w_flag_lines'],
                           r['e_flags'], r['e_flag_lines'], r['layout'])
        return pd.DataFrame(rows, columns=[
            'tracts', 'w_flags', 'w_flag_lines', 'e_flags',
            'e_flag_lines', 'layout'])
    return udf


def parse_plss_table(df: DataFrame, desc_col: str,
                     config_col: str = None, layout_col: str = None,
                     config: str = None, keep_cols=None,
                     parallelism='auto') -> DataFrame:
    """Parse a description column with optional per-row config/layout
    override columns (reference parse_csv semantics: once
    ``config_col`` is wired, the row cell replaces ``config=`` for
    every row -- an empty cell means config '', not the table
    default)."""
    if keep_cols is None:
        keep_cols = [c for c in df.columns if c != desc_col]
    df = _ensure_parallelism(df, parallelism)
    cfg = F.col(config_col) if config_col else F.lit(None).cast('string')
    lay = F.col(layout_col) if layout_col else F.lit(None).cast('string')
    parsed = df.withColumn(
        '_doc',
        _dynamic_parse_udf(config, has_config_col=config_col is not None)
        (F.col(desc_col), cfg, lay))
    t = F.col('_tract')
    return parsed.select(
        *keep_cols,
        F.col(desc_col).alias('orig_desc'),
        F.col('_doc.e_flags').alias('doc_e_flags'),
        F.col('_doc.w_flags').alias('doc_w_flags'),
        F.col('_doc.layout').alias('layout'),
        F.posexplode_outer('_doc.tracts').alias('orig_index', '_tract'),
    ).select(
        *keep_cols,
        t['trs'].alias('trs'),
        t['desc'].alias('desc'),
        'orig_index',
        *[t[f].alias(f)
          for f in ('twp_num', 'twp_ns', 'rge_num', 'rge_ew', 'sec_num')],
        t['lots'].alias('lots'),
        t['qqs'].alias('qqs'),
        t['lot_acres'].alias('lot_acres'),
        # the reference's writable tract attributes (which
        # dedup_key('desc') consumes) must survive this path too
        t['aliquots_whole'].alias('aliquots_whole'),
        t['pp_desc'].alias('pp_desc'),
        # flag hand-down (L8): per-tract flags + the document's, the
        # same composition parse_documents_full emits
        F.concat(t['t_w_flags'], F.col('doc_w_flags'))
        .alias('w_flags'),
        'orig_desc', 'layout', 'doc_w_flags', 'doc_e_flags',
        (F.size('doc_e_flags') > 0).alias('desc_is_flawed'),
    )


def read_plss_csv(spark: SparkSession, path: str, desc_col,
                  header: bool = True, config: str = None,
                  config_col=None, layout_col=None) -> DataFrame:
    """S2: bulk CSV source.  ``desc_col`` (and the override columns)
    may be names or 1-indexed positions (reference parse_csv indexes
    columns from 1)."""
    df = spark.read.csv(path, header=header)

    def resolve(col):
        if col is None:
            return None
        if isinstance(col, int):
            return df.columns[col - 1]
        return col

    return parse_plss_table(
        df, resolve(desc_col), config_col=resolve(config_col),
        layout_col=resolve(layout_col), config=config)


def num_to_alpha_col(n) -> Column:
    """1 -> 'a', 26 -> 'z', 27 -> 'aa' (utils/__init__.py:8-17),
    native columns."""
    n = n.cast('int')
    prefix = F.when(
        (n - 1) / 26 >= 1,
        F.char(F.floor((n - 1) / 26).cast('int') + 96)).otherwise('')
    return F.concat(prefix, F.char((n - 1) % 26 + 97))


def uid_col(doc_num, sub, total_sub, just: int = 4) -> Column:
    """The reference UID ``'0001.a-d'`` (gen_uid, utils:53-71)."""
    return F.concat(
        F.lpad(doc_num.cast('string'), just, '0'), F.lit('.'),
        num_to_alpha_col(sub), F.lit('-'), num_to_alpha_col(total_sub))


def stringify_tracts(df: DataFrame, attributes, doc_col: str = None,
                     include_uid: bool = False) -> DataFrame:
    """Project + stringify tract rows for a flat sink: arrays join with
    ``', '``, maps render ``k:v,k:v`` sorted by key (TractWriter
    semantics).  With ``include_uid`` the doc ranks come from a
    checkpoint (see :func:`lifecycle.checkpoint` for its
    fault-tolerance trade-off)."""
    cols = []
    if include_uid:
        if doc_col is None:
            raise ValueError('include_uid requires doc_col')
        # Doc numbers = global rank of the doc id, computed WITHOUT a
        # single-partition window: range-partition the distinct doc
        # ids (partition i's ids all sort before partition i+1's),
        # rank within each partition, then add per-partition offsets
        # (one tiny count-per-partition collect -- n_partitions rows,
        # never data rows).  The sink stays distributed for large
        # exports; the per-doc sub/total windows below partition by
        # doc and scale normally.
        distinct = df.select(doc_col).distinct()
        nparts = max(df.sparkSession.sparkContext.defaultParallelism,
                     1)
        # A checkpoint pins each doc's partition id, so the counts and
        # the ranks below read the same partitioning.
        ranged = lifecycle.checkpoint(
            distinct.repartitionByRange(nparts, doc_col)
            .withColumn('_pid', F.spark_partition_id()))
        counts = {r['_pid']: r['n'] for r in
                  ranged.groupBy('_pid').agg(
                      F.count('*').alias('n')).collect()}
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        off_expr = F.element_at(
            F.create_map(*[F.lit(x) for pid in sorted(offsets)
                           for x in (pid, offsets[pid])]),
            F.col('_pid')) if offsets else F.lit(0)
        doc_nums = ranged.select(
            doc_col,
            (F.row_number().over(
                Window.partitionBy('_pid').orderBy(doc_col))
             + off_expr).alias('_doc_num'))
        # No broadcast hint: doc_nums is one row per distinct doc in
        # the export (same size class as df itself), so forcing a
        # broadcast is a driver/executor-memory trap on large exports.
        # AQE still broadcasts it at runtime when it measures small.
        # Null-safe join: a null doc id is still a doc in the export
        # (distinct() kept its row and ranked it); a plain equi-join
        # would silently drop every null-doc row from the sink.
        dn = doc_nums.withColumnRenamed(doc_col, '_dn_doc')
        df = df.join(dn, F.col(doc_col).eqNullSafe(F.col('_dn_doc'))) \
            .drop('_dn_doc')
        wdoc = Window.partitionBy(doc_col)
        worder = wdoc.orderBy('orig_index')
        cols.append(uid_col(
            F.col('_doc_num'),
            F.row_number().over(worder),
            F.count('*').over(wdoc)).alias('uid'))
    for attr in attributes:
        dtype = dict(df.dtypes).get(attr)
        c = F.col(attr)
        if dtype and dtype.startswith('array'):
            c = F.array_join(c.cast('array<string>'), ', ')
        elif dtype and dtype.startswith('map'):
            c = F.array_join(
                F.transform(
                    F.array_sort(F.map_keys(c)),
                    lambda k: F.concat(k, F.lit(':'),
                                       F.element_at(F.col(attr), k))),
                ',')
        cols.append(c.alias(attr))
    return df.select(*cols)


def write_tracts_csv(df: DataFrame, path: str, attributes,
                     doc_col: str = None, include_uid: bool = False,
                     mode: str = 'overwrite', header: bool = True):
    """S3: CSV sink (``'a'`` append / ``'w'`` overwrite modes map to
    Spark save modes)."""
    mode = {'w': 'overwrite', 'a': 'append'}.get(mode, mode)
    stringify_tracts(df, attributes, doc_col=doc_col,
                     include_uid=include_uid) \
        .write.mode(mode).option('header', str(header).lower()).csv(path)


def write_bucketed(df: DataFrame, table: str, bucket_cols,
                   n_buckets: int, sort_cols=None,
                   mode: str = 'overwrite') -> None:
    """Persist a table bucketed (and optionally sorted) by join key --
    the co-location strategy for repeated big-big joins: two tables
    bucketed the SAME way (same keys, same bucket count) hash-join
    with ZERO exchange on either side, because Spark proves each
    bucket pair is co-partitioned at plan time.  At 100 TB this turns
    the recurring fact-fact join from the dominant shuffle into a
    local zip of bucket files; the one-time bucketed write is the
    amortized cost.

    Buckets land in the session's `spark.sql.warehouse.dir` via
    ``saveAsTable`` (bucket metadata lives in the catalog -- a plain
    ``.parquet(path)`` write cannot carry it).
    ``tests/test_bucketing.py`` pins the exchange-free plan shape.
    """
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) \
        else list(bucket_cols)
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) \
            else list(sort_cols)
        w = w.sortBy(*sort_cols)
    w.format('parquet').saveAsTable(table)


def shard_by_bytes(df: DataFrame, bytes_col: str, id_col: str,
                   target_bytes: int = None,
                   n_shards: int = None) -> DataFrame:
    """T35: byte-balanced shard assignment for a bulk export writer --
    "write these 10^12 rows as output files of ~``target_bytes``
    each, reproducibly".

    Rows order globally by ``id_col`` (the writer's clustering key);
    with ``cum`` = the exact running byte total BEFORE each row,
    ``shard = cum div target`` and ``offset_in_shard = cum mod
    target``.  Contiguous id ranges land in contiguous shards, every
    shard except the last closes within one row of ``target_bytes``,
    and the assignment is a pure function of (id order, sizes) --
    independent of partitioning, so re-running the export on any
    cluster layout produces byte-identical shards.  Exactly one of
    ``target_bytes`` / ``n_shards`` must be given; ``n_shards`` sizes
    the target as ``ceil(total / n_shards)`` from one skinny agg.

    Preconditions: ``id_col`` unique (duplicate ids would make the
    running total tie-order ambiguous -- same contract as
    ``pack_sequences``).  Null sizes count as 0.  A binary
    ``bytes_col`` is measured with ``octet_length`` inside the scan
    stage so blobs never ride the shuffle.

    Scale shape: NO single-partition window, and for numeric ids only
    ONE full-data exchange.  Approximate id quantiles split the key
    space into ~n_parallelism ordered buckets; the bucket id is a
    codegen sum of boundary comparisons evaluated in the scan stage,
    so per-bucket byte totals come from a partial-agg groupBy (only
    n_buckets rows shuffle), the global prefix offsets come back as a
    literal map, and the per-bucket running window's hash exchange is
    the single data movement.  Boundary placement only affects
    balance, never the output (``cum`` is a global prefix either
    way).  Non-numeric ids fall back to ``repartitionByRange`` + the
    partition-id window (two skinny exchanges -- the UID sink's
    shape), reading the range-partitioned ids as a checkpoint (see
    :func:`lifecycle.checkpoint` for its fault-tolerance trade-off).
    """
    if (target_bytes is None) == (n_shards is None):
        raise ValueError('exactly one of target_bytes / n_shards')
    size = F.col(bytes_col)
    if dict(df.dtypes).get(bytes_col) == 'binary':
        size = F.octet_length(size)
    size = F.coalesce(size.cast('long'), F.lit(0))

    skinny = df.select(F.col(id_col), size.alias('nbytes'))
    if target_bytes is None:
        total = skinny.agg(F.sum('nbytes')).collect()[0][0] or 0
        target_bytes = max((int(total) + int(n_shards) - 1)
                           // int(n_shards), 1)
    tgt = int(target_bytes)
    if tgt < 1:
        raise ValueError(f'target_bytes must be >= 1, got {tgt}')

    nparts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    id_type = dict(skinny.dtypes)[id_col]
    numeric = id_type in ('tinyint', 'smallint', 'int', 'bigint',
                          'float', 'double') \
        or id_type.startswith('decimal')

    if numeric and nparts > 1:
        qs = [i / nparts for i in range(1, nparts)]
        bounds = sorted(set(
            skinny.stat.approxQuantile(id_col, qs, 0.001)))
        # bucket = #boundaries strictly below id: a codegen sum of
        # comparisons, evaluated in the scan stage (no exchange).
        bucket = F.lit(0)
        for b in bounds:
            bucket = bucket + (F.col(id_col) > F.lit(b)).cast('int')
        # null ids: every comparison is null -> null bucket, which
        # breaks the offset map.  Nulls sort FIRST in the ascending
        # id window, so bucket 0 is where they belong.
        bucketed = skinny.withColumn('_bkt',
                                     F.coalesce(bucket, F.lit(0)))
    else:
        bucketed = lifecycle.checkpoint(
            skinny.repartitionByRange(nparts, id_col)
            .withColumn('_bkt', F.spark_partition_id()))

    parts = {r['_bkt']: r['s'] for r in
             bucketed.groupBy('_bkt').agg(
                 F.sum('nbytes').alias('s')).collect()}
    offsets, acc = {}, 0
    for pid in sorted(parts):
        offsets[pid] = acc
        acc += parts[pid]
    off = F.element_at(
        F.create_map(*[F.lit(x) for pid in sorted(offsets)
                       for x in (pid, offsets[pid])]),
        F.col('_bkt')) if offsets else F.lit(0)
    w = (Window.partitionBy('_bkt').orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    return (bucketed
            .withColumn('_cum', F.coalesce(F.sum('nbytes').over(w),
                                           F.lit(0)) + off)
            .select(id_col, 'nbytes',
                    F.expr(f'_cum div {tgt}').alias('shard'),
                    (F.col('_cum') % tgt).alias('offset_in_shard')))


def write_sharded(df: DataFrame, path: str, bytes_col: str,
                  id_col: str, target_bytes: int = None,
                  n_shards: int = None, fmt: str = 'parquet',
                  mode: str = 'error') -> dict:
    """T35 sink: materialize :func:`shard_by_bytes`'s assignment as an
    actual sharded export -- one output directory per shard
    (``shard=K/``), rows inside each shard in ``id_col`` order.

    Returns a small manifest dict ``{n_shards, total_bytes,
    target_bytes, rows}`` (the numbers a resumable export would
    checkpoint).

    Scale shape: the shard column IS the range-partitioning key
    (contiguous ids -> contiguous shards), so one
    ``repartitionByRange(shard, id)`` both co-locates each shard's
    rows and pre-sorts the writer's input; ``partitionBy('shard')``
    then writes each directory from a single task without a second
    exchange.  The payload (``bytes_col`` and friends) joins the
    assignment by id AFTER the skinny cumsum plan, so blobs move
    exactly once -- into the writer.
    """
    assign = shard_by_bytes(df, bytes_col, id_col,
                            target_bytes=target_bytes,
                            n_shards=n_shards)
    # Reattach payload columns by id (the assignment plan only ever
    # shuffled (id, nbytes)); AQE broadcasts the small side when it
    # can, and the join key is unique on both sides by precondition.
    out = df.join(assign.select(id_col, 'shard'), id_col)
    n_out = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    (out.repartitionByRange(n_out, 'shard', id_col)
        .sortWithinPartitions('shard', id_col)
        .write.mode(mode).partitionBy('shard').format(fmt).save(path))
    row = assign.agg(
        F.countDistinct('shard').alias('n'),
        F.sum('nbytes').alias('b'),
        F.count('*').alias('r')).collect()[0]
    return {'n_shards': int(row['n']), 'total_bytes': int(row['b'] or 0),
            'target_bytes': target_bytes, 'rows': int(row['r']),
            'path': path}
