"""SparkSession factory with engine-appropriate defaults.

Local mode (``local[N]``) is the sandbox; the same settings scale to a
multi-executor cluster (AQE re-plans shuffles at runtime, Arrow is used
for every pandas interchange, UTC pins oracle comparisons).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from kafka_jdbc_sink_connector_spark.config import ConfigError

#: a Spark byte-size string (``JavaUtils.byteStringAsBytes``): ASCII
#: digits plus an optional b/k/kb/m/mb/g/gb/t/tb/p/pb unit
_BYTE_SIZE = re.compile(r"[0-9]+(?:[kmgtp]b?|b)?", re.IGNORECASE)
#: a ``local[N]`` core count: a positive ASCII integer or ``*``
_CPUS = re.compile(r"\*|[1-9][0-9]*")


def _env_byte_size(key: str, default: str) -> str:
    """``key`` from the environment, checked here so a malformed value
    fails at session build and names the variable, not later as a
    Spark conf parse error inside the first query that reads it."""
    raw = os.environ.get(key, default).strip()
    if not _BYTE_SIZE.fullmatch(raw):
        raise ConfigError(
            f"{key}={raw!r} is not a Spark byte size (e.g. 64k, 1m, 1048576)"
        )
    return raw


def _env_cpus(key: str, default: str) -> str:
    """``key`` from the environment: a positive CPU count or ``*``
    (every core), checked like :func:`_env_byte_size`."""
    raw = os.environ.get(key, default).strip()
    if not _CPUS.fullmatch(raw):
        raise ConfigError(
            f"{key}={raw!r} is not a CPU count (a positive integer or *)"
        )
    return raw


def build_session(
    app_name: str = "kafka_jdbc_sink_connector_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    aqe_min_partition = _env_byte_size("SPARK_GRAFT_AQE_MIN_PARTITION", "64k")
    driver_mem = _env_byte_size("SPARK_DRIVER_MEM", "16g")
    cores = cores or _env_cpus("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = os.cpu_count() or 8 if cores == "*" else int(cores)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd over snappy: interleaved A/B on the COW merge-write path
        # (the cdc_apply cost center) measured ~7% faster end-to-end
        # AND smaller files — at 100 TB the byte savings also cut every
        # later scan; override via extra_conf if a cluster prefers lz4
        .config("spark.sql.parquet.compression.codec", "zstd")
        # INT96 timestamps (Spark's legacy default) carry NO parquet
        # footer statistics, which would blind the lake's file-level
        # min/max data skipping (lake/stats.py) on exactly the column
        # CDC time-range scans prune by; TIMESTAMP_MICROS is the
        # modern parquet logical type and stats-bearing everywhere
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # single-JVM local mode: every task is PROCESS_LOCAL by
        # definition; any locality wait is pure scheduler stall (3s
        # default was costing seconds per tiny job)
        .config("spark.locality.wait", "0ms")
        # NOTE measured non-win (r8): preferring shuffled-hash joins
        # (preferSortMergeJoin=false + AQE
        # maxShuffledHashJoinLocalMapThreshold=64m) looked ~9% better
        # on one steady-COW A/B/A, but longer interleaved runs showed
        # a wash on the steady path and repeated multi-second
        # regressions on the LARGE merge batch (the full-outer SHJ
        # stage burned ~3x the CPU of the sort-merge plan). Keep
        # Spark's defaults.
        # PySpark 4 captures a Python call-site string (a full stack
        # walk + one extra JVM roundtrip) for EVERY DataFrame/Column
        # op to enrich error messages; the engine builds plans with
        # thousands of Column ops per batch, where this measured
        # ~10-15% of driver-side plan-construction time. Trade: error
        # messages lose the user-code line pointer.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # AQE coalescing's 1MB min-partition floor serializes SMALL
        # shuffles onto fewer tasks than cores (a steady micro-batch
        # merge ran 16 tasks on 32 cores); at scale partitions are
        # sized by totalBytes/parallelism >> any floor, so lowering it
        # only restores parallelism in the small-shuffle regime. The
        # floor stays scale-adaptive: AQE still targets
        # max(total/defaultParallelism, this).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                aqe_min_partition)
        # NOTE measured non-win (r8): raising
        # spark.sql.sources.parallelPartitionDiscovery.threshold to
        # keep manifest-known file lists off the distributed-listing
        # job path cut pure read()-plan construction 5x in isolation
        # (0.20s -> 0.04s per read), but interleaved suite runs showed
        # no reproducible end-to-end win (FileStatusCache already
        # absorbs repeats), and serial listing is an object-store
        # regression risk. Left at Spark's default.
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
