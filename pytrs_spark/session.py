"""SparkSession builder tuned for this engine.

Local-mode defaults match the sandbox (one JVM, N threads); the same
settings are what we'd submit with ``spark-submit --py-files`` on a
real cluster (AQE on, Arrow on, shuffle partitions sized to cores).
"""

import os
import re

from pyspark.sql import SparkSession

# Catalyst rules excluded engine-wide: InferFiltersFromGenerate turns
# every explode-of-UDF-output into a `size(udf(..)) > 0` filter below
# the Generate, which duplicates the (expensive) parse UDF into a
# second ArrowEvalPython node per stage.  Explode already drops
# empty/null arrays; the inferred filter buys nothing here.
EXCLUDED_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs this engine relies on to an existing
    session (used when the caller -- e.g. the bench driver -- owns
    session creation)."""
    spark.conf.set("spark.sql.optimizer.excludedRules", EXCLUDED_RULES)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on (its
    affinity mask, which a container or ``taskset`` narrows below the
    machine's count)."""
    if os.environ.get("SPARK_GRAFT_CPUS"):
        return int(os.environ["SPARK_GRAFT_CPUS"])
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _mem_total_mb(meminfo):
    """The host's ``MemTotal`` in MB, or None without a readable
    ``meminfo``."""
    try:
        with open(meminfo) as f:
            return next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:")) // 1024
    except (OSError, StopIteration):
        return None


def default_driver_memory(meminfo="/proc/meminfo") -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of the host's ``MemTotal``
    clamped to 1-48 GB (48 GB without a readable ``meminfo``).  Under
    ``local[N]`` the driver JVM is also the executor, so its heap holds
    every task's working set; the other half of RAM stays for the
    Python workers, the driver's Python process and the page cache."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    cap_mb = 48 * 1024
    total_mb = _mem_total_mb(meminfo)
    if total_mb is None:
        return f"{cap_mb}m"
    return f"{max(1024, min(cap_mb, total_mb // 2))}m"


def default_executor_memory(master, meminfo="/proc/meminfo") -> str | None:
    """``SPARK_GRAFT_EXECUTOR_MEM``, else, for a
    ``local-cluster[N,C,MB]`` master, half of the host's ``MemTotal``
    split over its N executors: the same half the single ``local[N]``
    JVM gets (:func:`default_driver_memory`), at least 1 GB each and
    at most the worker's MB (an executor asking for more than its
    worker offers never launches; the worker's MB without a readable
    ``meminfo``).  None for other masters: Spark's default applies."""
    if os.environ.get("SPARK_GRAFT_EXECUTOR_MEM"):
        return os.environ["SPARK_GRAFT_EXECUTOR_MEM"]
    m = re.fullmatch(r"local-cluster\[\s*(\d+)\s*,\s*\d+\s*,\s*(\d+)\s*\]",
                     master)
    if not m:
        return None
    n, worker_mb = int(m.group(1)), int(m.group(2))
    total_mb = _mem_total_mb(meminfo)
    if total_mb is None:
        return f"{worker_mb}m"
    return f"{min(worker_mb, max(1024, total_mb // 2 // n))}m"


def get_spark(app_name="pytrs_spark", cores=None, shuffle_partitions=None,
              extra_conf=None, master=None) -> SparkSession:
    """Build the tuned session.

    ``master`` (or env ``SPARK_GRAFT_MASTER``) overrides the default
    ``local[cores]`` -- e.g. ``local-cluster[4,4,8192]`` launches 4
    REAL executor JVMs (own heap, own Python workers, shuffle over
    sockets), the closest single-host analog of an N-executor cluster
    and the master the scaling probe uses for its executor-mode legs.
    ``cores`` still sizes shuffle partitions in that case (pass total
    cores across executors).

    ``cores`` and the driver and executor heaps default to the host's
    (:func:`default_cores`, :func:`default_driver_memory`,
    :func:`default_executor_memory`).
    """
    if cores is None:
        cores = default_cores()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores)
    # Worker processes inherit this env through the JVM: retain big
    # glibc allocations on the heap instead of mmap/munmap per batch
    # -- this host charges ~1 ms/4KiB first-touch in bursts, and the
    # numpy/Arrow working sets of every batch re-fault otherwise
    # (measured: repeat tile runs 13.4/20.3/28.3 s without vs
    # 8.3-8.5 s with, same data).
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "2147483647")
    # Make the repo importable in worker daemons (pre-import module).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (repo_root + os.pathsep + pp) if pp \
            else repo_root
    builder = (
        SparkSession.builder
        .master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.python.daemon.module", "pytrs_spark.daemon")
        .config("spark.sql.optimizer.excludedRules", EXCLUDED_RULES)
        # 32 MB scan splits: benchmark-scale inputs (hundreds of MB)
        # must still fan out to >= task-slot scan tasks; the 128 MB
        # default capped a 750 MB / 8-file table at 8-way parallelism.
        # On a real warehouse (TB-scale inputs) either value saturates.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES",
                               "33554432"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches: the default 10k pays per-batch Python
        # dispatch + IPC framing ~6x more often for the same bytes;
        # measured 9.4 s -> 7.2 s on the 24M-row tile stage.  ~2-10 MB
        # per batch per worker -- well inside worker memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "65536"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.log.level", "WARN")
        # Separate-JVM executors (local-cluster / standalone) do not
        # inherit the driver's environment: ship the import path and
        # the allocator tuning explicitly.  No-ops under local[N].
        .config("spark.executorEnv.PYTHONPATH",
                os.environ["PYTHONPATH"])
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_",
                os.environ["MALLOC_MMAP_THRESHOLD_"])
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_",
                os.environ["MALLOC_TRIM_THRESHOLD_"])
    )
    executor_memory = default_executor_memory(master)
    if executor_memory:
        builder = builder.config("spark.executor.memory", executor_memory)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_python_workers_async(spark, cores)
    return spark


def _warm_python_workers_async(spark, cores):
    """Fire one trivial Arrow-UDF job in a background thread so the
    Python worker daemon (numpy/pandas/pyarrow imports, ~1.5-2 s
    serial) and the Arrow eval codepath spin up CONCURRENTLY with the
    driver's own setup work (parquet listing, input prep) instead of
    inside the first real UDF stage.  Overlapping independent jobs is
    plain Spark scheduling; the first production stage then starts
    with a hot worker pool.  Set ``SPARK_GRAFT_WARM_WORKERS=0`` to
    disable.  Failures are swallowed: this is an optimization, never
    a correctness dependency."""
    if os.environ.get("SPARK_GRAFT_WARM_WORKERS", "1") == "0":
        return
    if getattr(spark, "_pytrs_workers_warmed", False):
        return
    spark._pytrs_workers_warmed = True

    def _warm():
        try:
            import pandas as pd  # noqa: F401
            from pyspark.sql import functions as F

            @F.pandas_udf("long")
            def _wu(s):
                return s

            spark.sparkContext.setJobDescription(
                "python-worker warmup (async)")
            (spark.range(int(cores), numPartitions=int(cores))
             .select(_wu("id").alias("x"))
             .write.format("noop").mode("overwrite").save())
        except Exception:  # noqa: BLE001
            pass

    import threading
    threading.Thread(target=_warm, name="pytrs-worker-warmup",
                     daemon=True).start()
