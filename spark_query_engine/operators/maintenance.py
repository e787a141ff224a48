"""Table-maintenance operators: the jobs that keep a 100 TB lake
queryable — small-file compaction and CDC upsert folding.

Beyond the reference (its sinks are a debug CSV dump): these are the
operational counterparts of the write paths in ``dataframe.py`` —
what runs nightly against the tables the engine's queries scan.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from spark_query_engine.catalog import read_parquet


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files. The streaming ingest paths
    (foreachBatch, per-trigger files) produce many small files; scans
    then pay per-file open/footer costs and lose row-group locality.
    Nightly compaction to ~128 MB files is the standard fix.

    Sizing reads the FILE LISTING only (no data pass); the rewrite is
    one round-robin repartition — no keyed shuffle. At lake scale the
    listing comes from the table manifest/catalog instead of a
    directory walk, and compaction runs per-partition so it
    parallelizes across the table. Returns the output file count."""
    total = 0
    for root, _dirs, files in os.walk(src_dir):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, math.ceil(total / target_file_bytes))
    read_parquet(spark, src_dir).repartition(n).write.mode(
        "overwrite"
    ).parquet(dst_dir)
    return n


def apply_cdc(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    version: str,
) -> DataFrame:
    """CDC upsert fold: merge a change batch into the current snapshot
    — per key, the row with the highest ``version`` wins (change rows
    beat snapshot rows at equal version). The MERGE pattern on an
    engine without transactional tables: union → per-key top-1 window,
    which Spark plans as WindowGroupLimit (rank-1 selection before any
    full-group sort). One shuffle on the key; the change batch is
    typically a small fraction of the snapshot, so at scale the union
    is snapshot-partition-aligned and only changed keys move."""
    tagged = current.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy(key).orderBy(
        F.col(version).desc(), F.col("_src").desc()
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def scd2_history(
    changelog: DataFrame,
    key: str,
    version: str,
    attr: str,
) -> DataFrame:
    """Slowly-changing-dimension Type 2: fold a (key, version, attr)
    changelog into validity intervals — the dimension-table history
    build behind every warehouse MERGE ... WHEN MATCHED pipeline.

    Two passes over one key-partitioned sort (Catalyst plans BOTH
    windows in a single Exchange+Sort because partitioning and
    ordering agree): (1) LAG drops no-op change rows (a CDC feed
    re-delivering an unchanged attribute must NOT open a new
    interval — at-least-once delivery makes these common); (2) LEAD
    over the surviving change points closes each interval at the next
    change's version. ``valid_to`` is NULL on the open (current) row.

    Scale: one shuffle on the key; per-key state is the change count
    (tiny), never the snapshot width. No global sort, no collect —
    key cardinality is the parallelism axis.
    """
    w = Window.partitionBy(key).orderBy(version)
    points = changelog.withColumn("_prev", F.lag(attr).over(w)).where(
        F.col("_prev").isNull() | (F.col("_prev") != F.col(attr))
    )
    return (
        points.withColumn("valid_to", F.lead(version).over(w))
        .select(
            F.col(key),
            F.col(attr),
            F.col(version).alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )
