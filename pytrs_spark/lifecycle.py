"""One materialization lifecycle for every operator: persist,
checkpoint and free.

The rule: everything a call materializes for its own use is freed
before it returns, and its output may read checkpoints but never a
persisted table.  The two differ in who frees them.  A persisted table
is an entry in Spark's CacheManager and stays there until someone
unpersists it or the session ends.  A checkpoint's blocks belong to its
RDD, and Spark's ContextCleaner frees them once the last DataFrame
reading them is garbage-collected, so a checkpoint handed to the caller
is freed when the caller drops the output.

Which one to use (the trade-off RDDs, NSDI 2012, define): ``persist``
(MEMORY_AND_DISK) keeps the lineage, so a lost block is recomputed, and
suits an intermediate that several branches of one plan read.  ``checkpoint``
cuts the lineage, which an iterative loop needs (its plan would
otherwise nest one generation per round) and which lets an operator
return a small result without the tree that produced it.
"""

import warnings

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_CKPT_STRIP_WARNED = False


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df`` that does not inherit the
    source plan's size-estimate statistics.

    Fault tolerance: the blocks live on the executors that computed
    them (MEMORY_AND_DISK) and the lineage is gone, so losing an
    executor fails the job that reads the checkpoint instead of
    recomputing the lost part.  Every operator whose output is a
    checkpoint inherits this.

    Statistics: Spark 4's ``localCheckpoint`` snapshots the source
    plan's ``Statistics`` into the new ``LogicalRDD``
    (``originStats``).  In an iterative loop whose round plan
    self-joins the carried table, each generation inherits the previous
    round's join-product estimate and the next round squares it again:
    ``sizeInBytes`` grows doubly-exponentially, and by ~round 20 the
    BigInteger stats arithmetic kills the driver (measured on the
    200k-point DBSCAN core graph: per-round wall 1.3 s -> 11.5 s -> OOM
    at 1 GiB heap; 'BigInteger would overflow supported range' at
    48 GiB).  The checkpointed ``LogicalRDD`` is rebuilt with
    ``originStats`` empty (public case-class ``copy``), so every
    generation reports the default estimate.  AQE still broadcast-plans
    small tables at runtime from actual shuffle sizes.  If the
    reflection fails, the plain checkpoint is returned (correct, only
    stats-inheriting) and a warning is emitted once.
    """
    ck = df.localCheckpoint()
    try:
        spark = ck.sparkSession
        jdf = ck._jdf
        node = jdf.queryExecution().analyzed()
        jvm = spark._jvm
        none = jvm.scala.Option.empty()
        fresh = node.copy(node.output(), node.rdd(),
                          node.outputPartitioning(),
                          node.outputOrdering(), node.isStreaming(),
                          node.stream(), jdf.sparkSession(), none, none)
        jnew = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            jdf.sparkSession(), fresh)
        return DataFrame(jnew, spark)
    except Exception as ex:  # noqa: BLE001 -- degraded, not fatal
        # The fallback is correct but re-enters the stats blowup past
        # ~15 iterative rounds; warn so a Spark upgrade that breaks the
        # reflection shows up here, not as a driver OOM.
        global _CKPT_STRIP_WARNED
        if not _CKPT_STRIP_WARNED:
            _CKPT_STRIP_WARNED = True
            warnings.warn(
                'checkpoint stats-strip failed '
                f'({type(ex).__name__}: {ex}); iterative loops fall '
                'back to stats-inheriting checkpoints, which blow up '
                'the size estimate past ~15 rounds -- check the '
                'LogicalRDD.copy reflection against this Spark '
                'version', RuntimeWarning)
        return ck


def free(df: DataFrame) -> None:
    """Free a frame persisted or checkpointed here: its cache entry,
    or its checkpoint's blocks (``DataFrame.unpersist()`` does nothing
    for a checkpoint).  Best-effort: a failure leaves the blocks to the
    ContextCleaner."""
    if df.is_cached:
        df.unpersist()
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001
        pass


class scope:
    """What one call materializes for its own use.  Frames made by
    ``persisted`` and ``checkpointed`` are freed when the ``with``
    block exits, also when it raises, unless handed out by ``keep``.
    """

    def __init__(self):
        self._held = []

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        for df in reversed(self._held):
            free(df)

    def persisted(self, df: DataFrame) -> DataFrame:
        self._held.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        return self._held[-1]

    def checkpointed(self, df: DataFrame) -> DataFrame:
        self._held.append(checkpoint(df))
        return self._held[-1]

    def keep(self, df: DataFrame) -> DataFrame:
        """Hand a checkpoint to the caller: it is not freed at exit."""
        self._held = [h for h in self._held if h is not df]
        return df

    def free(self, df: DataFrame) -> None:
        """Free ``df`` now if this scope holds it."""
        if any(h is df for h in self._held):
            free(self.keep(df))
