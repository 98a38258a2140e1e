"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in a single JVM
(default: the cores this process may run on, with a driver of at most
half the host's physical RAM); the same configuration keys are the ones
that matter on a 1000-executor cluster (AQE, shuffle partitioning,
Arrow, partition sizing), so tests exercise the real knobs.

Python workers fork from ``kinesis_producer_spark.worker_daemon``
(``spark.python.daemon.module``), which stops each task from re-reading
Spark's zip archives on CPython < 3.12. Spark finds that module through
the package root, which ``get_spark`` prepends to
``spark.executorEnv.PYTHONPATH``; the same entry lets the workers
import this package whatever the driver's working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# 128 MB input split — same constant the reference uses for its greedy
# input batching (reference aws_utils.py:27, max_batch_size=128_000_000).
_MAX_PARTITION_BYTES = 128 * 1024 * 1024

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def s3_tuning_profile(connection_pool: int = 50) -> dict[str, str]:
    """s3a configuration preset mirroring the reference's S3 client
    tuning (aws_utils.py:11 pins botocore max_pool_connections=50).

    Inert in this sandbox (no real S3); pass to ``get_spark(extra_conf=
    s3_tuning_profile())`` when pointing at s3a:// paths. Values follow
    the public Hadoop s3a documentation: pooled connections sized to the
    reference's constant, fast upload with disk buffering (the analogue
    of the reference's BytesIO-then-upload, minus the OOM risk), and
    directory-marker retention for modern committers.

    Committer keys live in ``s3_committer_profile`` — deliberately NOT
    here, because ``spark.sql.sources.commitProtocolClass`` governs
    writes on EVERY filesystem scheme and requires the
    spark-hadoop-cloud jar on the classpath (ClassNotFoundException on
    all writes otherwise).
    """
    return {
        "spark.hadoop.fs.s3a.connection.maximum": str(connection_pool),
        "spark.hadoop.fs.s3a.threads.max": str(connection_pool),
        "spark.hadoop.fs.s3a.fast.upload": "true",
        "spark.hadoop.fs.s3a.fast.upload.buffer": "disk",
        "spark.hadoop.fs.s3a.block.size": str(_MAX_PARTITION_BYTES),
        "spark.hadoop.fs.s3a.directory.marker.retention": "keep",
    }


def s3_committer_profile() -> dict[str, str]:
    """Opt-in S3A magic-committer preset — separate from the
    connection-pool tuning because these keys have GLOBAL write scope:
    ``spark.sql.sources.commitProtocolClass`` replaces the commit
    protocol for every DataFrame write on every filesystem scheme, and
    ``PathOutputCommitProtocol`` requires the spark-hadoop-cloud jar
    (ship it via ``spark.jars.packages
    org.apache.spark:spark-hadoop-cloud_2.13:<spark version>``).
    Only merge this profile into a session whose writes all target
    s3a:// and whose classpath carries that jar."""
    return {
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
        "spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a": (
            "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory"
        ),
    }


def streaming_state_profile() -> dict[str, str]:
    """Production state-store preset for large streaming state:
    RocksDB provider (state off executor heap — the HDFS-backed
    default keeps every key in memory and OOMs at multi-GB state),
    changelog checkpointing (upload deltas, not full snapshots), and
    a bounded block-cache. MUST be set as session confs before the
    query starts — ``writeStream.option()`` silently ignores these
    keys (pinned by tests/test_streaming.py's provider-artifact
    check)."""
    return {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
    }


_DRIVER_MEM_CAP_MB = 16 * 1024


def _host_driver_memory(phys_bytes: int | None = None) -> str:
    """Half of physical RAM (default: this host's), capped at 16g —
    the driver JVM shares the host with its Python workers."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(_DRIVER_MEM_CAP_MB, phys_bytes // 2 // 2**20)}m"


def _session_sizing(cpus: int | None = None) -> tuple[int, str]:
    """``(local cores, spark.driver.memory)``: an explicit ``cpus``,
    else ``SPARK_GRAFT_CPUS``, else the cores this process may run on;
    ``SPARK_GRAFT_DRIVER_MEM``, else ``_host_driver_memory()``."""
    n = int(cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    return n, os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_memory()


def get_spark(
    app_name: str = "kinesis_producer_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - AQE on: runtime shuffle-partition coalescing + skew-join splitting
      replace every hand-tuned batch-size heuristic in the reference
      (reference aws_utils.py:27-45, file_flattener.py:160).
    - Arrow on: all pandas-UDF operators move data in columnar batches.
    - UTC session timezone: required for byte-identical comparison with
      the DuckDB oracle (DuckDB timestamps are UTC-naive).
    - Python workers fork from ``worker_daemon``, which skips re-reading
      unchanged zip archives before each task. The package root is
      prepended to ``spark.executorEnv.PYTHONPATH`` (ahead of any value
      in ``extra_conf``) so that the daemon and the workers import this
      package; the session is always ``local[n]``, so that path is valid
      for every worker.
    """
    n, driver_mem = _session_sizing(cpus)
    shuffle = int(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", str(2 * n)))

    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(_MAX_PARTITION_BYTES))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # fixture events.parquet stores ts as TIMESTAMP(NANOS); Spark has no
        # nanos timestamp — read as long, tables.py converts to micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", "kinesis_producer_spark.worker_daemon")
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_ROOT, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate may return a session built elsewhere, which ignores the
    # static confs above (daemon module, executor PYTHONPATH)
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package as a zip to executor Python workers, unless
    they already import it from the package root.

    A ``get_spark`` session has the root on its executors'
    ``PYTHONPATH``. A session built elsewhere (one that ``getOrCreate``
    returned, or a driver's own session under ``__spark_entry__``) does
    not, and its workers cannot unpickle our pandas UDFs without the
    package: ``addPyFile`` is the deployment-agnostic fix (local mode
    and a real cluster alike). The zip is written inside the context's
    SparkFiles directory, which Spark deletes when the context stops.
    Idempotent per SparkContext.
    """
    sc = spark.sparkContext
    executor_path = sc.getConf().get("spark.executorEnv.PYTHONPATH", "")
    if getattr(sc, "_kps_shipped", False) or _PACKAGE_ROOT in executor_path.split(os.pathsep):
        return
    import shutil
    import tempfile

    from pyspark import SparkFiles

    zip_base = os.path.join(
        tempfile.mkdtemp(dir=SparkFiles.getRootDirectory()), "kinesis_producer_spark"
    )
    zip_path = shutil.make_archive(
        zip_base, "zip", root_dir=_PACKAGE_ROOT, base_dir="kinesis_producer_spark"
    )
    sc.addPyFile(zip_path)
    sc._kps_shipped = True
