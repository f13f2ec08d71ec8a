"""SparkSession factory with the engine's standard configuration.

Tuned for correctness-comparable, scale-ready plans:
  * AQE on (runtime shuffle-partition coalescing + skew handling),
  * Arrow on (the extraction core runs only in Arrow-batched UDFs —
    input_hint mandates zero per-row Python dispatch),
  * UTC session timezone (duckdb-oracle comparability),
  * shuffle partitions sized to cores for local mode (a 1000-executor
    deployment overrides via spark-submit --conf; nothing here assumes
    local mode except the default master),
  * the engine's jar (`jvm/no-ocr-spark.jar`) on the driver class path
    whenever this call launches the JVM: it holds the per-document text
    hash kernels (`jvm/DocSig.java`, see functions/docsig.py) and the
    file:// FileSystem this call installs (`jvm/PosixLocalFileSystem.java`:
    without libhadoop, Hadoop's local FileSystem forks a `chmod` for every
    file, `.crc` sidecar and directory it creates; this one sets the same
    modes in-process and keeps the checksums),
  * a fixed young generation (a quarter of the heap) whenever this call
    launches the JVM, so the driver's resident memory is steady from one
    job to the next instead of following G1's adaptive eden.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

JVM_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "jvm", "no-ocr-spark.jar")
LOCAL_FS_CLASS = "no_ocr_spark.jvm.PosixLocalFileSystem"
DRIVER_JAVA_OPTIONS = "-XX:NewRatio=3"


def driver_memory() -> str:
    """The driver heap: SPARK_GRAFT_DRIVER_MEM if set, else half of
    physical memory capped at 16g, in MiB."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                          f"{min(16 << 10, phys // 2 >> 20)}m")


def get_spark(app: str = "no_ocr_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = SparkSession.builder
    # Under spark-submit the JVM gateway already carries the submitted
    # --master (PYSPARK_GATEWAY_PORT is set); calling .master() here would
    # silently OVERRIDE it. Only set a master when not submitted, or when
    # the caller passes one explicitly.
    if master is not None or "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(master or f"local[{cpus}]")
    # The jar reaches the classpath only through the launch command, so the
    # FileSystem is named only when this call starts the JVM; a submitted
    # job passes the jar and the FileSystem itself (see README). A JVM
    # started earlier by this process keeps both as system properties for
    # its later sessions. The young generation is fixed at a quarter of the
    # heap: G1's adaptive young sizing grew eden from ~0.8 to ~1.5 GB of a
    # 2 GB heap over a run of short jobs, so the driver's resident memory
    # depended on how many GCs had run, not on what the jobs hold
    # (defaultJavaOptions, so --driver-java-options still applies on top).
    if "PYSPARK_GATEWAY_PORT" not in os.environ and SparkContext._gateway is None:
        builder = (builder.config("spark.driver.extraClassPath", JVM_JAR)
                   .config("spark.hadoop.fs.file.impl", LOCAL_FS_CLASS)
                   .config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS))
    builder = (
        builder.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html payloads are KB-scale; cap Arrow batches so a batch stays
        # ~tens of MB and the Python worker's peak memory is bounded.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # scan-split sizing: html payloads are CPU-heavy per byte, so favor
        # more, smaller scan partitions than the 128m default (at cluster
        # scale this is retuned per table; the principle — split size tracks
        # per-byte CPU cost, not just IO — is the same).
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "512k")
        # NOT the biggest heap that fits: the extraction pipeline is
        # allocation-heavy (nested span structs), and oversized heaps turn
        # frequent cheap GCs into rare 10s+ full pauses that serialize the
        # whole local job. 16g measured faster AND more stable than 48g.
        # Half of the host's memory below that, so two sessions on one
        # host cannot claim all of it.
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # InferFiltersFromGenerate turns explode(expensive_expr) into an
        # inferred size(expensive_expr)>0 filter that predicate pushdown
        # then drives below every projection INTO the parquet scan — the
        # expensive expression ends up evaluated per row at scan
        # parallelism (and once more per plan branch). For token-explode
        # pipelines (jaccard prefix index, band explodes) this measured a
        # 10x wall-clock regression; the inferred filter buys nothing for
        # non-empty token arrays.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def scratch_dir(spark: SparkSession, *parts: str) -> str:
    """A temp path private to `spark`'s application, for the tables a query
    writes while it is composed: two concurrent sessions never overwrite or
    vacuum each other's copy. The application's tree is removed when this
    process exits, so repeated sessions do not pile copies up in the temp
    dir (tmpfs = RAM on many hosts)."""
    root = os.path.join(tempfile.gettempdir(), "no_ocr_spark_scratch",
                        spark.sparkContext.applicationId)
    try:
        os.makedirs(root)
    except FileExistsError:
        pass
    else:
        atexit.register(shutil.rmtree, root, True)
    return os.path.join(root, *parts)
