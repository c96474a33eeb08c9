"""SparkSession construction with the engine's standard settings."""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from . import class_archive

FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "aads-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` resolution order: explicit argument, $SPARK_GRAFT_MASTER,
    then — ONLY when not running under spark-submit — ``local[cores]``.
    Under spark-submit (detected via the PYSPARK_GATEWAY_PORT env the
    PythonRunner sets for the driver script) no master is forced, so the
    submitted ``--master`` / cluster manager wins; forcing local[n] there
    would silently turn a cluster job into a driver-local one.

    ``cores`` controls local parallelism (``local[cores]``); default comes
    from $SPARK_GRAFT_CPUS, falling back to all cores. Shuffle partitions
    default to 2x cores — at cluster scale this would instead be sized from
    input volume / target partition bytes. AQE coalesces the excess of
    the shuffles Spark plans itself (joins, aggregations), but not of a
    repartition that names its count: ``halo_blocks``'
    ``repartition(sp, "g")`` runs the detector kernel in exactly ``sp``
    tasks.

    When this function builds the ``local[cores]`` master itself, the
    Python workers are children of this driver's JVM, and they fork from
    the package's own daemon (``pydaemon``, ``spark.python.daemon.module``)
    instead of ``pyspark.daemon``: otherwise every Python task re-reads
    ``pyspark.zip``'s central directory 16 times (CPython < 3.12) and
    imports pyarrow, pandas and the kernel modules afresh. That daemon
    also ends every task with a heap trim, so an idle worker gives back
    the memory its last task hoarded. The package's parent directory goes
    on ``spark.executorEnv.PYTHONPATH``, so the daemon imports the package
    whatever the cwd. Under spark-submit or an explicit master the stock
    daemon stays: workers there may import the package only once
    ``--py-files`` arrive with a task, so no daemon can import it before
    it forks.

    The same local branch starts the driver JVM from a dynamic class-data
    archive of the classes Spark loads (``class_archive``), kept at
    ``${XDG_CACHE_HOME:-~/.cache}/<package>/cds/<digest>.jsa``, where the
    digest covers the Spark version, ``$SPARK_HOME/jars`` and the ``java``
    binary. The first session on a machine writes it when its JVM exits
    (about 10 s more at interpreter exit, ~160 MB on disk); later ones map
    it and skip most of the class loading and verification that dominate
    the JVM's start. The JVM can use an archive only when no non-empty
    directory is on its class path, and Spark puts the conf directory
    there: when ``$SPARK_CONF_DIR`` is unset and ``$SPARK_HOME/conf``
    holds only ``*.template`` files, ``SPARK_CONF_DIR`` points at an empty
    directory of the cache while the JVM is launched, and is unset again
    afterwards. With an explicit ``$SPARK_CONF_DIR`` or real conf files,
    a JVM already running in this process, or a cache directory that
    cannot be written, the session starts without an archive. A stale or
    corrupt archive makes the JVM start without sharing, and is deleted so
    that the next session writes a fresh one.

    The same local branch keeps streaming checkpoints on Spark's
    ``FileSystemBasedCheckpointFileManager`` instead of the FileContext
    default. Hadoop 3.4.2's local file system, without libhadoop, starts a
    ``chmod`` or ``readlink`` process to set or read permissions; through
    FileContext that is about 22 processes per checkpoint file, through
    FileSystem about 6. On a 4-CPU host a 4-key, 3-trigger keyed drain
    forked 1,293-1,359 times before and 333-396 after, and the state
    commit per trigger (summed over 8 partitions) fell from 598-1,074 ms
    to 96-218 ms once warm.
    Commits keep their guarantee: on the local file system FileContext's
    rename without overwrite is Hadoop's same check-then-rename
    (``ChecksumFs`` goes to ``AbstractFileSystem.renameInternal(src, dst,
    false)``, which ``RawLocalFs`` does not override), and HDFS's
    ``rename`` refuses an existing destination. Checkpoint checksums
    (``spark.sql.streaming.checkpoint.fileChecksum.enabled``) stay at
    Spark's default: they detect corrupt state files.

    Every session turns off PySpark's per-Column call-site capture
    (``spark.python.sql.dataFrameDebugging.enabled``). It costs a JVM
    round trip per Column method and imports IPython into the driver on
    first use (about 25 MB): one 1-d MCOD plan build sent 629 py4j
    commands with it and 149 without, and the first build took 1.14 s
    instead of 0.39 s. Without it, an error raised by a DataFrame no
    longer names the Python ``file:line`` of the Column that failed;
    ``extra={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
    restores it. Any setting given in ``extra`` wins.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    # Within a task, keep glibc from returning large buffers to the kernel
    # between Arrow batches: concurrent mmap/page-fault storms are
    # pathologically slow on virtualized guests, and the Python workers
    # re-allocate per batch. The heap so hoarded is handed back at the end
    # of each task: the package daemon (pydaemon) trims it, so an idle
    # worker does not keep its last task's peak. (Workers inherit this env
    # through the JVM -> daemon fork chain.)
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    # ...and route Arrow allocations through that hoarding glibc pool
    # instead of the bundled jemalloc, whose purge/refault cycle is
    # page-fault-bound on this guest REGARDLESS of core count (measured:
    # alloc+touch+free of 8 MB buffers aggregates ~18-20 GB/s flat at
    # 8-32 procs under jemalloc — even with decay disabled — vs
    # 2271 GB/s @ 8 procs and 7044 GB/s @ 32 procs under the system pool,
    # which reuses pages from freelists and therefore scales WITH procs).
    # This was the dominant N->4N anti-scaling term: Arrow IPC read
    # buffers and kernel outputs are freed and refaulted every batch.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    archive = None
    builder = SparkSession.builder
    if master:
        builder = builder.master(master)
    elif "PYSPARK_GATEWAY_PORT" not in os.environ:
        package_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = (
            builder.master(f"local[{cores}]")
            .config("spark.python.daemon.module", f"{__package__}.pydaemon")
            .config("spark.executorEnv.PYTHONPATH", package_parent)
            .config("spark.sql.streaming.checkpointFileManagerClass", FS_CHECKPOINT_MANAGER)
        )
        # only a session that launches its JVM can start it from the archive
        if SparkContext._gateway is None:
            archive = class_archive.plan()
        if archive is not None:
            builder = builder.config("spark.driver.defaultJavaOptions", archive.java_options)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # this engine's post-decode shuffles carry narrow digest/count
        # rows; the 64 MB default advisory size coalesces them to 1-3
        # partitions and serializes mid-pipeline aggregations.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound the transient per-batch allocation in Python workers
        # (binary image rows are wide; 10k-row default batches are ~300MB)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", driver_memory or os.environ.get("AADS_DRIVER_MEM", "8g"))
    )
    # Pinned-budget runs (scripts/bench_scaling.py) export $AADS_JAVA_OPTS
    # (e.g. -XX:ActiveProcessorCount=N): a taskset-bounded JVM otherwise
    # sizes GC/JIT/common pools for the MACHINE's 32 cores — 23 parallel
    # GC threads thrashing a 4-core budget — where a real N-core executor
    # host would report N processors to the JVM.
    java_opts = os.environ.get("AADS_JAVA_OPTS")
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    for key, value in (extra or {}).items():
        builder = builder.config(key, value)
    if archive is None:
        spark = builder.getOrCreate()
    else:
        # the launcher reads SPARK_CONF_DIR from this process's environment;
        # later subprocesses must see the caller's
        os.environ["SPARK_CONF_DIR"] = archive.conf_dir
        try:
            spark = builder.getOrCreate()
        finally:
            del os.environ["SPARK_CONF_DIR"]
        archive.after_launch(SparkContext._gateway.proc)
    spark.sparkContext.setLogLevel("WARN")
    return spark
