"""SparkSession factory.

The reference builds its session with only an S3 connector config
(reference etl.py:10-20) and inherits two correctness hazards: an unpinned
session timezone (golden run was UTC+2, SURVEY.md §2.5-F5) and schema
inference on read.  This factory pins timezone to UTC, enables AQE (runtime
skew-join handling + partition coalescing — the 100 TB path), and keeps
shuffle partitioning sized for the active cluster rather than the 200
default that produced the reference's small-files problem (85 files for 104
users, SURVEY.md §4.3.8).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
MAX_DRIVER_MEMORY_MB = 64 * 1024


def physical_memory_bytes() -> int | None:
    """MemTotal from /proc/meminfo, or None where it cannot be read."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return None


def driver_memory() -> str:
    """``spark.driver.memory``: $SPARK_DRIVER_MEMORY when set, else half
    of physical RAM capped at 64g.  In local mode the driver heap holds
    every executor too, so a heap larger than the host (no swap) gets
    the process OOM-killed instead of spilling.  Spark's own 1g default
    applies where the host's memory cannot be read."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    total = physical_memory_bytes()
    if total is None:
        return "1g"
    return f"{min(total // 2**21, MAX_DRIVER_MEMORY_MB)}m"


def get_session(
    app_name: str = "udacity-datalake-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local mode for tests/bench; on a real cluster the same conf block is
    what we'd pass to spark-submit.  Every knob here is chosen for the
    100 TB target:

    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy demotion replace hand-tuning per query.
    - ``spark.sql.files.maxPartitionBytes`` at 128 MB keeps scan tasks
      right-sized for wide parquet at scale.
    - Arrow enabled: any unavoidable Python boundary (pandas UDFs in
      operators/) moves columnar batches, not pickled rows.
    - UTC session timezone: reproducible timestamp-part derivation
      (the reference's golden run leaked its machine TZ, SURVEY.md §4.3.5).
    - Listing parallelism equal to the shuffle partitions: a read of more
      than 32 paths (the ``song_data/*/*/*`` glob expands to one path per
      file) is listed by a Spark job, one task per path up to 10 000 by
      default.  Capped here, the 72-path benchmark feed is listed by 2
      tasks at 2 slots instead of 72; the listing stays parallel, as a
      cluster's object store needs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime row-level filtering: inject a bloom filter built from the
        # small side of a shuffle join into the large side's scan — at
        # 100 TB this prunes fact rows before the exchange, the same
        # semi-join reduction classic MPP engines hand-plan
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # read parquet TIMESTAMP_NTZ (isAdjustedToUTC=false) columns as
        # plain TimestampType IN THE SCAN — a post-read cast would sit
        # between the filter and the scan and defeat predicate pushdown
        # on every time predicate
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", driver_memory())
        # shuffle files / broadcasts are reclaimed by the ContextCleaner
        # only after a driver GC notices the dead references; with a big
        # heap GC is rare, so long multi-query sessions accumulate
        # gigabytes of shuffle dirs and slow down (session aging).
        # Force a periodic GC so cleanup keeps pace.
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Python worker fork + connect-back must survive a saturated
        # host: the 15s default SocketTimeout flaked one streaming test
        # when four concurrent local[8] suites oversubscribed 32 cores
        # (r8 sharded-suite run) — and a busy multi-tenant executor at
        # 1000-node scale is the same condition, so the widened window
        # is the production posture, not a test hack.
        .config("spark.python.authenticate.socketTimeout", "120s")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def s3a_conf(
    access_key: str | None = None,
    secret_key: str | None = None,
    hadoop_aws_version: str = "3.4.1",
) -> dict[str, str]:
    """Cloud-storage connector conf for ``get_session(extra_conf=...)``.

    The reference wires S3 access with ``spark.jars.packages =
    org.apache.hadoop:hadoop-aws:2.7.0`` plus creds from dl.cfg
    (reference etl.py:18, dl.cfg:1-16); the engine treats the storage URI
    as opaque, so cloud access is pure session conf — no code path
    changes between ``file://`` tests and ``s3a://`` production.  Keys
    default to the standard AWS env vars; on EC2/EKS omit both and the
    default provider chain (instance profile / IRSA) applies.  Not
    exercised in this offline environment — shape-tested only.
    """
    conf = {
        "spark.jars.packages": f"org.apache.hadoop:hadoop-aws:{hadoop_aws_version}",
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        # throughput at scale: connection pool sized for wide scans,
        # magic committer avoids the O(files) serial rename on commit
        "spark.hadoop.fs.s3a.connection.maximum": "96",
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
        "spark.sql.parquet.output.committer.class": (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        ),
    }
    access_key = access_key or os.environ.get("AWS_ACCESS_KEY_ID")
    secret_key = secret_key or os.environ.get("AWS_SECRET_ACCESS_KEY")
    if access_key and secret_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
    return conf
