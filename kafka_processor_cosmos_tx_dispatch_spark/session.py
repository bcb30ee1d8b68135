"""SparkSession factory.

Local-mode defaults are tuned for the test harness (local[N] on one box),
but every knob is chosen so the same plans scale to a multi-executor
cluster: AQE for runtime re-planning (partition coalescing, skew-join
splitting), shuffle partitions sized to parallelism, Arrow for the few
Pandas-UDF paths, and UTC session time so results are reproducible
against external oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(1, int(env))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "cosmos-tx-dispatch-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the session.

    At cluster scale the master/memory settings come from spark-submit;
    everything set here is cluster-safe:

    - ``spark.sql.adaptive.*``: AQE re-plans at runtime — coalesces
      post-shuffle partitions sized for the actual data and splits skewed
      join partitions. Essential at 100 TB where static planning is wrong.
    - ``spark.sql.shuffle.partitions``: a *starting* width; AQE coalesces
      down. Locally ≈ cores; on a cluster 2-3× total cores.
    - ``spark.sql.files.maxPartitionBytes`` stays at the 128 MB default so
      scan tasks fit executor memory regardless of input size.
    - Arrow on: the Pandas-UDF operators (tx decode, Python-tier
      JsonPath, multimodal decode) move batches, not rows.
    - ``spark.sql.streaming.checkpointFileManagerClass``: streaming
      checkpoints (offsets, commits, the file-source log, state-store
      files) are written through Hadoop's ``FileSystem`` API
      (``create``/``rename``), Spark's own fallback for file systems
      without ``FileContext`` support; it is valid on HDFS and object
      stores alike. The default ``FileContext`` manager asks for
      ``getFileLinkStatus`` on every rename, and without the native
      Hadoop library (``libhadoop``) the local file system answers it by
      spawning ``readlink``, four times per rename. On a ``live_tail``
      run of 52 triggers that was 640 ``readlink`` + 171 ``chmod``
      spawns (15.7 per trigger, 3–5 ms each), most of ``walCommit``,
      ``commitOffsets`` and ``latestOffset``; with this manager it is
      0 + 171 (3.4 per trigger). The ``chmod`` spawns come from
      ``setPermission`` on temp files and go only with native IO.
    """
    cpus = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # pandas-generated parquet carries TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type — read as long, sources convert to micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
