"""G10: per-partition lineage + metrics checkpoints, resumable runs
(SURVEY.md §2.7; north rule: "resumable from checkpoint with
per-partition lineage + metrics").

The unit of work is a *bucket*: ``pmod(xxhash64(image_id), n_buckets)``
-- stable under any physical partitioning, so a resumed run sees the
identical work split regardless of cluster size.

One invocation processes ALL pending buckets in a constant number of
Spark jobs (input counts, process+write, read-back checksum) --
never a per-bucket driver loop, which would serialize the cluster at
warehouse bucket counts:

1. filter source to the pending buckets (pushed-down on the stable
   hash -- no global shuffle), apply ``process`` once,
2. write the output partitioned by bucket with *dynamic* partition
   overwrite (``<output>/bucket=<i>/``): reruns overwrite only their
   own buckets, so a crash between output write and lineage append is
   idempotent,
3. append one lineage row per bucket ``(bucket, n_in, n_out, wall_s,
   checksum, run_id)`` to the lineage table in a single batch.

Resume = anti-join pending buckets against the lineage table's
finished bucket ids.  The lineage append is the commit point: output
written but lineage missing -> bucket reruns and overwrites (exactly-
once output, at-least-once compute).

Physical tables are parquet here (no Iceberg runtime in this sandbox);
on a cluster with the Iceberg runtime jar the same calls target
``format("iceberg")`` -- the write/read API below is format-agnostic
via ``LINEAGE_FORMAT``.

Lineage rows reach Spark as an Arrow table, never as a Python list: a
list ``createDataFrame`` runs a Python RDD, whose worker environment
differs from the SQL path's, so Spark starts a second worker daemon
and pool beside the one the UDF stages use.
"""

import time

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

LINEAGE_FORMAT = 'parquet'

_LINEAGE_SCHEMA = ('bucket int, n_in long, n_out long, wall_s double, '
                   'checksum long, run_id string, finished_at double')


def bucket_of(id_col, n_buckets: int):
    """Stable work-split key (independent of physical partitioning)."""
    return F.pmod(F.xxhash64(id_col), F.lit(n_buckets)).cast('int')


def _clear_partitions(spark: SparkSession, output_path: str,
                      buckets) -> None:
    """Delete ``<output_path>/bucket=<b>/`` for each bucket, via the
    Hadoop FileSystem API (works on local/HDFS/S3A alike)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(output_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    for b in buckets:
        p = jvm.org.apache.hadoop.fs.Path(f'{output_path}/bucket={b}')
        if fs.exists(p):
            fs.delete(p, True)


def finished_buckets(spark: SparkSession, lineage_path: str) -> set:
    """Bucket ids with a committed lineage row.

    Only the first-run path-not-found is swallowed; a corrupt or
    transiently-unreadable lineage table raises instead of silently
    reprocessing everything.
    """
    try:
        rows = spark.read.format(LINEAGE_FORMAT).load(lineage_path) \
            .select('bucket').distinct().collect()
    except AnalysisException as e:
        # ONLY first-run path-not-found means "no lineage yet".  An
        # existing-but-unreadable table (no parquet footers after a
        # crashed append, permissions, ...) must raise: treating it
        # as empty silently reprocesses every bucket AND rewrites
        # partitions whose lineage rows are lost.
        try:
            klass = e.getErrorClass() or ''
        except Exception:
            klass = ''
        if 'PATH_NOT_FOUND' in klass or 'PATH_NOT_FOUND' in str(e):
            return set()
        raise
    return {r['bucket'] for r in rows}


def run_checkpointed(spark: SparkSession, source: DataFrame,
                     process, output_path: str, lineage_path: str,
                     id_col: str = 'image_id', n_buckets: int = 16,
                     run_id: str = 'run', fail_after: int = None) -> int:
    """Process every pending bucket of ``source`` in one batched pass
    with lineage checkpoints.

    ``process``: DataFrame -> DataFrame, applied once to the union of
    pending buckets; it must be bucket-independent (row-wise or
    per-image -- the same contract the per-bucket form imposed, since
    bucket contents were arbitrary) and its output must retain
    ``id_col`` unchanged (each output row's bucket is re-derived from
    it).  Returns the number of buckets processed in THIS invocation
    (0 on a fully-caught-up resume).  ``fail_after`` processes only the
    first k pending buckets then aborts (test hook for the resume
    path).  ``wall_s`` in the lineage rows is the batch wall time (the
    buckets ran concurrently in one job).
    """
    done = finished_buckets(spark, lineage_path)
    pending = [b for b in range(n_buckets) if b not in done]
    batch = pending[:fail_after] if fail_after is not None else pending
    if not batch:
        return 0
    t0 = time.time()
    src = source.withColumn('_bucket', bucket_of(F.col(id_col), n_buckets))
    part = src.filter(F.col('_bucket').isin(batch))
    n_in = {r['_bucket']: r['n']
            for r in part.groupBy('_bucket')
            .agg(F.count('*').alias('n')).collect()}
    out = process(part.drop('_bucket')) \
        .withColumn('bucket', bucket_of(F.col(id_col), n_buckets))
    # Guard the commit contract: a process() that re-keys id_col can
    # emit rows whose re-derived bucket lies OUTSIDE the pending
    # batch -- dynamic overwrite would then silently clobber
    # already-committed buckets' partitions while their lineage rows
    # still say finished.  Fail the task instead (scan-stage codegen
    # assert, no extra job).
    msg = F.concat(
        F.lit('run_checkpointed: process() emitted a row outside the '
              f'pending batch (re-keyed {id_col}?): bucket='),
        F.col('bucket').cast('string'))
    # assert_true is fused into the surviving bucket column (a
    # dropped helper column would be pruned away, assert included):
    # it returns null on success, so the when() always keeps bucket.
    out = out.withColumn(
        'bucket',
        F.when(F.assert_true(F.col('bucket').isin(batch), msg).isNull(),
               F.col('bucket')))
    # Clear the pending buckets' partition dirs up front: dynamic
    # partition overwrite only rewrites partitions PRESENT in the new
    # output, so a rerun whose process() legitimately emits zero rows
    # for a bucket that a crashed prior attempt partially wrote would
    # otherwise leave the stale partition in place (and the read-back
    # agg below would commit those stale rows as this run's output).
    # Deleting before the write keeps the crash contract: lineage is
    # still the commit point -- a crash after delete just reruns the
    # bucket.  Hadoop FS API, so the same code clears HDFS/S3A paths
    # on a real cluster.
    _clear_partitions(spark, output_path, batch)
    conf_key = 'spark.sql.sources.partitionOverwriteMode'
    prev = spark.conf.get(conf_key, 'static')
    spark.conf.set(conf_key, 'dynamic')
    try:
        out.write.mode('overwrite').partitionBy('bucket') \
            .format(LINEAGE_FORMAT).save(output_path)
    finally:
        spark.conf.set(conf_key, prev)
    # Read-back verification of what actually landed (one job for all
    # buckets).  bit_xor: order-independent and overflow-free under
    # ANSI mode (sum of hashes overflows long).  A run whose output is
    # entirely empty may leave nothing loadable at output_path (no
    # parquet footers to infer a schema from) -- that is a valid
    # all-buckets-empty outcome, not an error.
    try:
        written = spark.read.format(LINEAGE_FORMAT).load(output_path) \
            .filter(F.col('bucket').isin(batch))
        agg = {r['bucket']: (r['n'], r['ck'])
               for r in written.groupBy('bucket').agg(
                   F.count('*').alias('n'),
                   F.coalesce(F.bit_xor(F.xxhash64(id_col)), F.lit(0))
                   .alias('ck')).collect()}
    except AnalysisException:
        agg = {}
    wall = round(time.time() - t0, 3)
    now = time.time()
    rows = pa.table({
        'bucket': batch,
        'n_in': [n_in.get(b, 0) for b in batch],
        'n_out': [agg.get(b, (0, 0))[0] for b in batch],
        'wall_s': [wall] * len(batch),
        'checksum': [agg.get(b, (0, 0))[1] for b in batch],
        'run_id': [run_id] * len(batch),
        'finished_at': [now] * len(batch)})
    spark.createDataFrame(rows, _LINEAGE_SCHEMA) \
        .write.mode('append').format(LINEAGE_FORMAT).save(lineage_path)
    if fail_after is not None and len(pending) > len(batch):
        raise RuntimeError(f'injected failure after {len(batch)} buckets')
    return len(batch)


def load_output(spark: SparkSession, output_path: str) -> DataFrame:
    return spark.read.format(LINEAGE_FORMAT).load(output_path)


def lineage_metrics(spark: SparkSession, lineage_path: str,
                    latest_only: bool = True) -> DataFrame:
    """Lineage rows; by default one row per bucket (latest
    ``finished_at`` wins), so a bucket rerun after a crash can never
    double-count n_in/n_out in downstream sums.  ``latest_only=False``
    returns the raw append history."""
    df = spark.read.format(LINEAGE_FORMAT).load(lineage_path)
    if not latest_only:
        return df
    w = Window.partitionBy('bucket').orderBy(F.col('finished_at').desc())
    return (df.withColumn('_rn', F.row_number().over(w))
            .filter(F.col('_rn') == 1).drop('_rn'))
