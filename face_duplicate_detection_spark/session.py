"""SparkSession factory tuned for the dedup workload.

AQE + skew-join handling are on (BASELINE.json north_rule names them),
Arrow is on for pandas-UDF transit, and shuffle partitions default to
the local core count so small-SF tests don't drown in empty tasks.
On a real cluster the same builder runs under spark-submit with
shuffle partitions sized to (executors × cores × 2-3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


def local_ckpt(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint with SERIALIZED storage.

    ``DataFrame.localCheckpoint()`` defaults to the JVM's
    ``MEMORY_AND_DISK_DESER``: every re-read of a disk-spilled block
    tries to re-cache the partition as deserialized Java rows, each
    carrying per-object overhead several × the columnar bytes.  At 8M
    docs × 8 concurrent tasks that re-caching OOMed a 48 GB heap
    (round 5 campaign log).  PySpark's ``MEMORY_AND_DISK`` (the
    SERIALIZED level) keeps stored stage blocks compact (~the columnar
    size) and bounds the unroll; on this sandbox "disk" is tmpfs so
    the spill path stays RAM-speed — the production analogue is
    serialized block storage on per-executor NVMe.  Per-scan
    deserialization cost is paid only by the 2-3 consumers each hot
    stage actually has."""
    return df.localCheckpoint(
        eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
    )


def get_spark(
    app_name: str = "face-duplicate-detection-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    # shuffle/spill files on tmpfs: this sandbox's /tmp is disk-backed,
    # and concurrent workers serialize on its IO — measured 218 → 150 s
    # for the 800k-doc e2e dedup at local[8] just by moving
    # spark.local.dir to /dev/shm.  Production analogue: per-executor
    # local NVMe (the thing a real N→4N scale-up adds with the cores).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm") and os.access(
        "/dev/shm", os.W_OK
    ):
        local_dir = "/dev/shm/spark-local"

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # broadcast threshold tuned up: representative/dim tables are small
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
