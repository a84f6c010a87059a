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


def tune_arrow_batch_for_width(spark: SparkSession, est_row_bytes: int) -> int:
    """Byte-aware Arrow RECORDS-cap sizing from a width estimate: cap
    records-per-batch so a batch stays near SPARK_GRAFT_ARROW_TARGET_BYTES
    (default 128 MiB), clamped to [16, SPARK_GRAFT_ARROW_BATCH]. Narrow
    rows keep the 100k ceiling (measured optimal, BENCH/SORTED_PAIRB_r4.md);
    fat rows shrink the batch instead of the executor.

    Since round 7 this is an ADVISORY tune on top of the hard guard: the
    session pins ``arrow.maxBytesPerBatch`` to the same byte target
    (get_spark below), which the JVM Arrow writers enforce directly on
    every transfer — so a path that skips this tune (the streaming job
    dropped its per-epoch width scan) is still byte-bounded under the
    reference's no-max-cell-size rule (CHANGES.txt:109-110). Callers with
    a cheap width estimate in hand (batch replay's limit() sample, the
    multimodal batch_size_hint) still apply it so the records cap matches
    the expected width up front. Returns the applied value."""
    target = int(os.environ.get("SPARK_GRAFT_ARROW_TARGET_BYTES", str(128 << 20)))
    ceiling = int(os.environ.get("SPARK_GRAFT_ARROW_BATCH", "100000"))
    n = max(16, min(ceiling, target // max(1, int(est_row_bytes))))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(n))
    return n


def ensure_default_arrow_batch(spark: SparkSession) -> int:
    """Re-apply the default Arrow batch ceiling. ``maxRecordsPerBatch`` is
    session-global and read at EXECUTION time, so a fat-row tune (above)
    would otherwise stay sticky and silently shrink batches for every
    later pandas-UDF workload in the session. Scoping protocol: the
    narrow-row ANN top-k kernel re-applies it at entry (multimodal
    instead re-TUNES via its batch_size_hint — media blobs are the
    fat-row case; the streaming job no longer tunes — the session byte
    cap covers its kernels, so there is nothing to restore per epoch).
    Batch replay's tune intentionally persists until its lazy plan
    executes; run replay plans before building unrelated pandas plans in
    the same session.

    KNOWN ORDERING HAZARD (accepted, documented): because the conf is
    read at execution, interleaving plan BUILDS that tune with plan
    EXECUTIONS that assume a tune is still pending can cross wires —
    e.g. build a fat-row ``extract_features(batch_size_hint=...)`` plan,
    then call a narrow kernel that re-applies the default HERE, then
    execute the fat plan: it runs at the default cap. PySpark exposes no
    per-plan Arrow cap to fix this structurally; the rule is EXECUTE a
    tuned plan before entering another operator that touches the cap
    (all package-internal paths follow it — replay executes its plan in
    the same call chain)."""
    ceiling = int(os.environ.get("SPARK_GRAFT_ARROW_BATCH", "100000"))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ceiling))
    return ceiling


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
