"""SparkSession factory.

Tuned for the sandbox (single-JVM local[N]) but every knob is the one you
would set on a 1000-executor cluster too: AQE on (runtime coalesce + skew-join
splitting), shuffle partitions sized to parallelism, Arrow enabled for the
vectorized pandas-UDF path (the only Python in the hot path).

The whole-stage-codegen class cache is sized to hold every generated class
one session's pipeline runs and queries produce, so a warm run compiles
nothing: Spark's default of 100 entries is smaller than one checkpointed
run's classes, and an LRU cache under that cyclic access misses every time.

A Python task's fixed cost was mostly neither Arrow nor closure
unpickling: PySpark's worker calls ``importlib.invalidate_caches()`` before
every task, and before CPython 3.13 that re-parses the central directory of
every zip on the worker's ``sys.path`` (pyspark.zip, py4j, the spark-core
jar: ~26.7k entries, 0.14-0.28 s of one core per task on a 4-core host).
Importing ``blink_spark``, which every UDF and kernel it ships does in the
worker, makes that re-read conditional on the archive having changed, so in
a reused worker the call takes ~0.2 ms.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def _default_driver_memory() -> str:
    """Half the host's physical memory, at most 48g: a max heap above
    physical memory lets G1 grow the JVM until the kernel OOM-kills it."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, total >> 31))}g"


def get_spark(
    app_name: str = "blink_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls ``local[N]``; it defaults to ``DEFAULT_CPUS``, the
    host's CPU count unless ``SPARK_GRAFT_CPUS`` overrides it.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # split big parquet files at row-group boundaries: a single-file
        # input must not serialize the scan through one task
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # static: read once, at the JVM's first codegen. Distinct classes
        # measured in one session: checkpointed run_pipeline 160, fused 63,
        # dedup 44, retrieve_topk 18 (~285 in all). At the default 100 a
        # warm checkpointed run recompiled ~151 classes (12.5 ms each in
        # Janino, then interpreted bytecode); 1000 leaves ~3.5x headroom.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
