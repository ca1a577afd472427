"""SparkSession factory.

Mirrors the reference session config (reference
``ecommerce_streaming.py:8-19``: AQE on, AQE partition coalescing, Kryo,
streaming metrics) minus its no-op state-store restatement, plus the
settings a 100 TB deployment wants from day one:

- AQE + coalescing + skew-join: runtime re-planning is the single
  biggest lever at scale (mis-estimated shuffle sizes, skewed keys).
- Arrow for the Python boundary (Pandas UDFs are the sanctioned slow
  path; row-at-a-time UDFs are banned in this codebase).
- UTC session timezone so results are reproducible against external
  oracles regardless of cluster locale.
- ``parquet nanosAsLong``: reads TIMESTAMP(NANOS) parquet (which Spark
  has no native type for) as int64 so the loader can down-convert to
  micros explicitly (see ``sources/batch.py``).

- ``spark.python.daemon.module`` = ``pyworker``, for local masters only:
  Spark forks its Python workers from this daemon instead of
  ``pyspark.daemon``. PySpark ends each task's setup with
  ``importlib.invalidate_caches()``, which before Python 3.12 re-reads
  ``pyspark.zip``'s 1,328-entry directory once per zip importer, about
  280 ms of CPU per task on a 4-core host; the daemon re-reads an archive
  only when its stat changed. It starts before any task puts
  ``--py-files``/``addPyFile`` on ``sys.path``, so ``spark.executorEnv.PYTHONPATH``
  names this package's root and the daemon imports from any working
  directory. On a cluster the package usually arrives as ``--py-files``,
  so cluster masters keep the stock daemon. Not covered either: the
  driver, sessions built elsewhere (``apply_runtime_confs`` cannot set a
  core conf), and Spark's driver-side planner runners (Python data source
  planning and writes), which always start the stock daemon.
- ``spark.sql.streaming.checkpointFileManagerClass`` =
  ``FileSystemBasedCheckpointFileManager``, for local masters only. Every
  trigger renames small files into place (offsets, commits, state-store
  deltas, the file sink's log). Spark's default FileContext manager checks
  existence through ``getFileLinkStatus``, which without libhadoop's
  NativeIO forks a ``readlink`` per call, four per rename. The FileSystem
  manager checks ``exists(dst)``, refuses an existing one, and calls the
  same ``RawLocalFileSystem.rename``: both are check-then-``rename(2)``,
  both write Hadoop's ``.crc`` sidecars, and the state store's checksum
  wrapper sits on either, so existing checkpoints resume unchanged. The
  ``chmod`` fork of every file create stays. Cluster masters keep Spark's
  default, which suits object stores and HDFS.

On a real cluster the same builder is used; only ``master`` and the
memory/instance settings differ (supplied by spark-submit, not here).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from kafka_spark_streaming_app_spark import pyworker

# The checkpoint file manager local sessions use (see the module docstring).
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)

# Runtime-settable confs every entry point applies, so the engine also
# works on sessions it did not build (e.g. the test driver's session).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Test parquet is written with ns timestamps; Spark has no ns type.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime bloom-filter join pruning (SPARK-32268): a selective
    # non-broadcast build side publishes a bloom filter applied on the
    # fact scan BEFORE its shuffle. Self-gating — it only injects when
    # the application-side scan is >= 10 GB (never on local fixtures;
    # exactly the 100 TB case it exists for). Plan shape pinned in
    # tests/test_plans.py::test_runtime_bloom_filter_prunes_fact_join.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session."""
    confs = dict(RUNTIME_CONFS)
    # Size the shuffle width to the machine, not Spark's 200 default —
    # with AQE coalescing on, modest over-partitioning is self-healing,
    # but 200 tasks on a laptop-scale run is pure scheduler overhead.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    confs.setdefault("spark.sql.shuffle.partitions", str(max(cpus, 8)))
    for key, value in confs.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Conf not settable on this build — leave the session as-is.
            pass
    return spark


def get_spark(
    app_name: str = "kafka_spark_streaming_app_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster leave it unset and let spark-submit decide.
    ``shuffle_partitions`` defaults to the local core count — at 100 TB
    you would instead size it so post-shuffle partitions land at
    100-200 MB (or simply rely on AQE coalescing from a high initial
    count, which is why AQE is always on).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Local mode runs every executor thread inside the driver JVM, and
    # Spark's DEFAULT driver heap is 1g — a 32-thread local run at any
    # real data size GC-thrashes long before it spills. Size the heap
    # to the work (must be set before the JVM starts; a getOrCreate
    # against an existing session leaves it unchanged). Overridable via
    # SPARK_GRAFT_DRIVER_MEM; on a cluster spark-submit supplies it.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.streaming.metricsEnabled", "true")
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):  # see the module docstring
        root = os.path.dirname(os.path.dirname(os.path.abspath(pyworker.__file__)))
        builder = builder.config("spark.python.daemon.module", pyworker.__name__)
        builder = builder.config("spark.executorEnv.PYTHONPATH", root)
        builder = builder.config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    if extra_confs:
        for key, value in extra_confs.items():
            builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    apply_runtime_confs(spark)
    # an explicitly requested shuffle width must win over the
    # machine-sized default apply_runtime_confs just installed
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark
