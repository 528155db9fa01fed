"""SparkSession factory with the engine's standard configuration.

Arrow execution on (the geometry kernels left in Python run as vectorized
pandas UDFs; the hot refines — tag's ray cast, the overlay and predicate
area kernel, the cell keys — are Spark SQL expressions),
AQE on (coalesce + skew-join backstop; primary skew mitigation is explicit
mega-cell salting, see operators/skew.py), shuffle partitions sized for the
local-mode core count but representative of a multi-executor layout.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_half_heap() -> str:
    """Half the host's physical memory in whole GiB (at least 1g): in
    local mode the driver JVM is the only JVM, and the Python workers and
    the OS need the other half."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // 2 // 2**30)}g"


def get_spark(
    app_name: str = "spandex_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    so the bench harness can run the identical job at two parallelism levels
    (the sandbox stand-in for N vs 4N executors).
    """
    # one BLAS thread per Python UDF worker: with N workers already busy,
    # letting each numpy call spawn another N BLAS threads oversubscribes
    # the box N-fold and makes local[32] SLOWER than local[8]
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # keep glibc from mmap()ing every Arrow-batch-sized allocation: 32
    # Python workers that each mmap/munmap MBs per batch drive the KERNEL
    # to 85-90% CPU (page-table churn + cross-core TLB shootdowns) for long
    # stretches of the UDF stage. Paired A/B sampling of /proc/stat shows
    # these thresholds shorten the kernel-storm phase (~3 vs 7+ storm
    # samples per run), and the best observed local[32] headline time
    # improved from 32.6s to 9.3s; co-tenant window noise remains the
    # dominant run-to-run factor (see BENCH/BASELINE.md). Freed memory is
    # recycled in-heap instead of returned page-by-page; workers hold a few
    # extra MB each. Env propagates driver -> JVM -> worker daemon.
    for var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.setdefault(var, str(64 * 1024 * 1024))
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPANDEX_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 timestamps carry NO Parquet footer statistics; micros (the
        # Iceberg-mandated physical type) give manifest min/max bounds so
        # IcebergishTable temporal between= pruning can engage
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # per-Column-op Python call-site capture (Spark 4 DataFrame query
        # context) costs 2+ py4j round trips per operator — measured ~20%
        # of expression-heavy query CONSTRUCTION time; error messages
        # lose the Python line pointer, nothing else changes
        .config("spark.sql.dataFrameQueryContext.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPANDEX_ARROW_BATCH", "20000"))
        .config("spark.driver.memory",
                os.environ.get("SPANDEX_DRIVER_MEM", _host_half_heap()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # small-file sandbox: default 128MB gives a 600k-row table ONE input
        # split, serializing every downstream narrow stage; 8MB splits keep
        # all cores busy (a real 100TB table has thousands of splits anyway)
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPANDEX_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
