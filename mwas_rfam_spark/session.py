"""SparkSession factory with the engine's default tuning.

Local-mode defaults target the test container (local[32], single JVM);
the same knobs are the right starting point on a real cluster — AQE for
runtime re-planning / skew joins, shuffle partitions sized to parallelism,
Arrow enabled for the pandas-UDF statistics kernels.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mwas_rfam_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Janino-compiled classes are cached by generated source in an LRU
        # of this many entries (static conf; default 100). One op cycles
        # through its classes in the same order every time, so a working
        # set past the cache size hits 0%: a warm curate_docs op (dedup
        # pipeline, md5 MinHash LSH, curation, sharded write) needs about
        # 160 classes and at 150 entries still compiled 80 per op, at 200
        # or more none; a mwas_serve request needs about 80. Each class is
        # a few KB of metaspace.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # localCheckpoint blocks are freed by the ContextCleaner only after
        # the driver JVM garbage-collects the RDD handle; a long-lived
        # session running many checkpointed pipelines otherwise accretes
        # dead blocks between full GCs (`git show 3c5d916:tools/checkpoint_probe.py`
        # measured ~23 MB per dedup_pipeline run at sf0.1). Force a periodic GC so
        # block-manager storage is bounded by the interval, not the session
        # lifetime. (Default is 30min.)
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """How many classes the JVM's Janino compiler has compiled so far. A
    generated class found in the codegen cache compiles nothing, so the
    difference across a block of work is that block's cache misses."""
    metrics = getattr(
        getattr(spark.sparkContext._jvm.org.apache.spark.metrics.source, "CodegenMetrics$"),
        "MODULE$",
    )
    return metrics.METRIC_COMPILATION_TIME().getCount()
