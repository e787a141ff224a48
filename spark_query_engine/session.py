"""SparkSession bootstrap tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the configuration is
nevertheless written for a real cluster: AQE on (runtime re-planning,
skew-join handling, partition coalescing), shuffle partitions sized to
the parallelism at hand, UTC session timezone (required for byte-exact
agreement with the DuckDB oracle on timestamp values), and Arrow
enabled for the few Pandas-UDF operators.

On a ``local…`` master, streaming checkpoints (offset, commit and
source logs, the file sink's ``_spark_metadata`` and state-store
deltas) go through Spark's ``FileSystemBasedCheckpointFileManager``.
The default FileContext manager's rename on the local filesystem
forks the ``readlink`` binary twice per file when Hadoop's native
library is absent; on one local filesystem both managers end in the
same ``rename(2)``, with the same ``.crc`` files and the same layout.
Cluster masters keep Spark's default, whose rename is atomic on HDFS.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CHECKPOINT_MANAGER_LOCAL = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def default_driver_memory() -> str:
    """Half of the host's physical memory, capped at 16g, in MiB. On a
    local master the driver JVM also hosts every executor thread, so
    a heap past physical memory lets the JVM defer collection until
    the host itself runs short. ``SPARK_QE_DRIVER_MEM`` overrides it."""
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(host // 2, 16 << 30) >> 20}m"


def get_session(
    app_name: str = "spark_query_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    Defaults are environment-driven so the same code runs under the
    driver harness (``SPARK_GRAFT_CPUS``) and on a real cluster (where
    ``master`` comes from spark-submit and these become no-ops).

    A ``local…`` master writes streaming checkpoints through the
    FileSystem checkpoint manager: the FileContext default renames
    each checkpoint file by way of ``readlink`` child processes,
    which took most of a trigger's commit time. ``extra_conf`` can
    still set ``spark.sql.streaming.checkpointFileManagerClass``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_QE_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            CHECKPOINT_MANAGER_LOCAL,
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
