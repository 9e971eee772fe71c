"""SparkSession builders.

The reference runs Flink with ``env.setParallelism(6)`` locally
(AnomalyDetection.java:91) and otherwise delegates all physical tuning to
the managed runtime. Here the engine owns its session config: AQE on,
Arrow on for pandas interchange, and shuffle partitioning sized to the
local core count (the driver/bench environment is local[32]).

At cluster scale the same builder applies — only master/memory change:
AQE handles skew-join splitting and partition coalescing at runtime, and
``spark.sql.shuffle.partitions`` should be set to ~2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import worker_daemon

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Entries of Spark's generated-class cache; build_session says why.
CODEGEN_CACHE_MAX_ENTRIES = 8192
# How streaming checkpoints are written; build_session says why.
CHECKPOINT_FILE_MANAGER_CLASS = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
CHECKPOINT_FILE_CHECKSUM_ENABLED = "false"
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(worker_daemon.__file__))
)


def build_session(
    app_name: str = "spot-anomalies-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a tuned SparkSession.

    Settings chosen for scale-out behavior, verified locally:
    - AQE enabled: runtime coalescing of small shuffle partitions and
      skew-join splitting — replaces hand-tuned parallelism.
    - Arrow enabled: vectorized pandas UDF / toPandas interchange.
    - Broadcast threshold left at default (10 MB); dimension tables in
      the star schema are far below it, so joins broadcast automatically.
    - Codegen cache sized to the registry's generated classes: a plan
      that runs again (next pass, refresh, micro-batch) compiles nothing.
    - Streaming checkpoints written through Hadoop's FileSystem API with
      Hadoop's .crc as the one checksum layer: no checkpoint file forks
      more than one process.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize per-batch Python/serde setup in
        # every pandas-UDF/mapInPandas stage; measured +22% detector
        # throughput over the 10k default (absolute ev/s figures live in
        # SCALE.md § Measured streaming throughput). All
        # chunk-boundary semantics are chunking-invariant by
        # construction (detector concats per-group batches; the stitch
        # carries partial keys across batches) and property-tested.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long nanos, converted in catalog.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # PySpark 4.x wraps every DataFrame/Column API call in a
        # call-site-capture decorator for error enrichment: per call it
        # pays a Python stack walk plus THREE extra py4j round trips
        # (conf.get + PySparkCurrentOrigin.set/clear). Across this
        # engine's ~390-query registry that is ~35% of all plan-
        # construction time (interleaved A/B: 40 mid-band builders
        # 11.2-12.2s -> 7.4-7.8s warm). Error semantics are unchanged —
        # only the "user code line" annotation in error messages is
        # dropped.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers fork from worker_daemon, which makes each task's
        # importlib.invalidate_caches() skip re-reading an unchanged
        # pyspark.zip (once per cached sub-package importer). On a 4-core
        # host at local[4] a 4-task no-op mapInPandas job drops from 354 ms
        # to 164 ms (median of 10; a JVM-only job takes ~50 ms). The
        # package's parent directory goes on the workers' path so the
        # daemon starts from any driver working directory.
        .config("spark.python.daemon.module", worker_daemon.__name__)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # Spark caches each class Janino compiles by its generated source,
        # 100 entries by default. One bench.py pass over the registry at
        # sf0.1 needs 5,315 distinct classes, so at 100 every pass
        # recompiled them all (7,373 in pass 2); held, pass 2 compiles
        # 191, from 41 queries whose source differs run to run. Guava
        # evicts per segment (4 segments, cap/4 each) before the total
        # is reached, so 8192 leaves ~1.5x headroom. Measured at
        # local[4] on a 4-core host: perfbench analyst_mix ops_per_s
        # median 1.095 -> 1.320 (5 pairs); driver metaspace peak 258 MB
        # vs 209-213 MB at 100, class space 33 vs 26-27 MB, peak RSS
        # 5.3-6.2 GB either way (8g heap). SCALE.md § Codegen cache.
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES)
        )
        # Streaming checkpoints (offset, commit and source logs, state-store
        # deltas) go through Hadoop's FileSystem API with one checksum
        # layer. Without libhadoop, the local file system forks `chmod` for
        # every file it creates, and Spark's default FileContext manager
        # forks `readlink` on every rename (~3-5 ms a launch, on the calling
        # thread). Spark 4.1's own checksum sidecar doubles the files, and so
        # the launches. Counted with JFR jdk.ProcessStart on a 4-core host:
        # one stream_interval_join_left replay at sf0.001 launched 463
        # processes (352 readlink) and now 79, all chmod; a perfbench
        # flowlog_replay run 1,085 and now 173. SCALE.md § Streaming
        # checkpoints.
        # Atomicity: the FileSystem manager still writes each file to a
        # temp name and renames it into place; on a local disk that rename
        # is File.renameTo, an atomic rename(2) within one directory, and
        # one running query owns its checkpoint. Hadoop's ChecksumFileSystem
        # keeps a .crc beside every local checkpoint file and checks it on
        # read, so a corrupted state delta still fails the restart
        # (tests/test_fault_tolerance.py). An object-store checkpoint (s3a,
        # abfs) has no ChecksumFileSystem below it: there this leaves no
        # checksum layer, and extra_conf should turn Spark's back on.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            CHECKPOINT_FILE_MANAGER_CLASS,
        )
        .config(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled",
            CHECKPOINT_FILE_CHECKSUM_ENABLED,
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in ``spark``'s JVM so far (Spark's
    ``CodegenMetrics``). A plan whose generated source is still in the
    codegen cache compiles none."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
