"""SparkSession factory with the engine's pinned configs.

UTC session timezone is a correctness requirement, not a preference: the
reference spent three releases on timezone bugs (daily-changes day
boundaries computed in local time, CHANGES.txt:55; DDL DATE defaults
corrupted by the active-schema timezone, CHANGES.txt:107-108; timestamps
stored as tz-independent epoch longs, CHANGES.txt:162-163).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mysql-time-machine-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # map_concat(old_image, new_cells) must be last-writer-wins
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # 100k (was 10k): BENCH/SORTED_PAIRB_r4.md — at 32 concurrent
        # Python workers, 10k-row batches multiply per-batch fixed costs
        # (socket round trip, frame construction) into a reproducible 2.4x
        # penalty on the streaming mapInPandas kernel; at 100k a typical
        # task is a single batch and the overhead vanishes
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "100000"),
        )
        # the HARD fat-row guard: Spark 4's byte-denominated Arrow batch
        # cap chunks every JVM->Python transfer (mapInPandas AND grouped
        # map — GroupedPythonArrowInput honors it) at this many bytes, so
        # multi-MB cells (no-max-cell-size rule, CHANGES.txt:109-110) can
        # never assemble an unbounded batch regardless of the row cap.
        # This replaces the round-6 per-epoch width-estimate tune in the
        # streaming job, which paid a full map-column scan+fold per
        # micro-batch to approximate exactly this bound (r7: that term
        # was ~3x the rest of the stats aggregate).
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_TARGET_BYTES", str(128 << 20)),
        )
        # the manifest names every data file, so a read passes file paths,
        # not directories; past this many paths (default 32) Spark still
        # launches a "Listing leaf files" job to stat them. A merge-on-read
        # epoch appends one delta file per bucket, so a table passes 32
        # files within a few epochs. Measured at local[2] on a 4-vCPU VM,
        # 112-delta-file table, p50 of 9 interleaved reads: a count over the
        # deltas 0.83 s -> 0.14 s, the MoR read() 1.29 s -> 0.55 s. The
        # driver stats the paths itself instead: microseconds per file on a
        # local root, one namenode call per file on HDFS; reads of more
        # than 10000 files still list in parallel.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
