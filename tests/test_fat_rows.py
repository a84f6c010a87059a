"""Wide-row safety: the reference allows unbounded cell sizes
(/root/reference/CHANGES.txt:109-110) while arrow.maxRecordsPerBatch
counts rows — the session's arrow.maxBytesPerBatch byte cap must shrink
Python-kernel batches for multi-MB content instead of assembling a
hundreds-of-GB Arrow batch, with the records cap left alone."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mysql_time_machine_spark.config import EngineConfig
from mysql_time_machine_spark.plans.replay import replay_batch
from mysql_time_machine_spark.schema import BASE_COLUMNS

MB = 1024 * 1024


def fat_events(spark, n=48, mb=2):
    """n INSERTs with ~mb-MiB content cells, generated JVM-side (repeat),
    plus an UPDATE on key 0 so the collapse path sees a fat cell-merge."""
    payload = F.repeat(F.lit("x"), mb * MB)
    base = spark.range(n).select(
        F.lit("binlog.000001").alias("log_file"),
        F.col("id").alias("log_pos"),
        F.concat(F.lit("u:"), F.col("id")).alias("gtid"),
        (F.col("id") + 1).alias("gtid_seq"),
        F.col("id").alias("txn_id"),
        F.lit(0).cast("int").alias("seq_in_txn"),
        F.lit(1).cast("int").alias("server_id"),
        F.lit(dt.datetime(2024, 1, 1)).alias("ts"),
        F.lit("I").alias("op"),
        F.lit(1).cast("int").alias("schema_version"),
        F.lit("o").alias("repo"),
        F.concat(F.lit("k"), F.col("id")).alias("path"),
        F.lit(None).cast("map<string,string>").alias("before"),
        F.create_map(
            F.lit("commit"), F.lit("c0"),
            F.lit("lang"), F.lit("py"),
            F.lit("content"), F.concat(payload, F.col("id").cast("string")),
        ).alias("after"),
        F.lit(None).cast("string").alias("ddl"),
    )
    upd = spark.range(1).select(
        F.lit("binlog.000001").alias("log_file"),
        F.lit(10_000).alias("log_pos"),
        F.lit("u:upd").alias("gtid"),
        F.lit(10_000).alias("gtid_seq"),
        F.lit(10_000).alias("txn_id"),
        F.lit(0).cast("int").alias("seq_in_txn"),
        F.lit(1).cast("int").alias("server_id"),
        F.lit(dt.datetime(2024, 1, 2)).alias("ts"),
        F.lit("U").alias("op"),
        F.lit(1).cast("int").alias("schema_version"),
        F.lit("o").alias("repo"),
        F.lit("k0").alias("path"),
        F.lit(None).cast("map<string,string>").alias("before"),
        F.create_map(
            F.lit("content"), F.concat(F.repeat(F.lit("y"), mb * MB), F.lit("v2"))
        ).alias("after"),
        F.lit(None).cast("string").alias("ddl"),
    )
    return base.unionByName(upd)


@pytest.fixture()
def arrow_conf_guard(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    yield key
    spark.conf.set(key, before)


@pytest.mark.parametrize("impl", ["sql", "sorted"])
def test_fat_row_replay_all_kernels(spark, impl, arrow_conf_guard):
    """Multi-MB content through every collapse kernel at DEFAULT config:
    correct final state, and no kernel touches the records ceiling — the
    sorted kernel's batches are bounded by the session byte cap (pinned by
    test_byte_cap_bounds_arrow_batches), not by a records-cap tune."""
    n, mb = 48, 2
    ev = fat_events(spark, n=n, mb=mb)
    out = replay_batch(ev, list(BASE_COLUMNS), EngineConfig(shuffle_partitions=8), impl=impl)
    got = out.select(
        "path", F.length("content").alias("len"), F.substring("content", 1, 1).alias("c0")
    ).collect()
    assert len(got) == n
    by_path = {r["path"]: r for r in got}
    # the fat UPDATE won LWW on k0 (y-payload, "v2" suffix)
    assert by_path["k0"]["c0"] == "y" and by_path["k0"]["len"] == mb * MB + 2
    assert by_path["k1"]["c0"] == "x" and by_path["k1"]["len"] > mb * MB

    assert int(spark.conf.get(arrow_conf_guard)) == 100000


def test_fat_row_streaming_apply(spark, tmp_path, arrow_conf_guard):
    """A fat-row micro-batch through the streaming job at DEFAULT config:
    the merged table round-trips multi-MB blobs, and the job never
    touches the session records ceiling — since r7 the fat-row guard is
    the session-wide ``arrow.maxBytesPerBatch`` byte cap (enforced
    JVM-side on every kernel transfer; behavior pinned by
    test_byte_cap_bounds_arrow_batches below), not a per-epoch
    width-estimate tune of maxRecordsPerBatch."""
    import os

    from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink
    from mysql_time_machine_spark.streaming.job import ApplyJob

    n, mb = 16, 2
    binlog = str(tmp_path / "binlog")
    os.makedirs(binlog)
    stage = str(tmp_path / "stage")
    fat_events(spark, n=n, mb=mb).coalesce(1).write.parquet(stage)
    import glob
    import shutil

    shutil.copyfile(
        glob.glob(os.path.join(stage, "part-*.parquet"))[0],
        os.path.join(binlog, "epoch-000.parquet"),
    )

    # the hard guard the streaming kernels rely on is active in-session
    assert int(spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch").rstrip("b")) <= 128 * MB

    sink = ManifestParquetSink(spark, str(tmp_path / "sink"), n_buckets=4)
    cfg = EngineConfig(shuffle_partitions=4, write_changelog=False)
    ApplyJob(spark, binlog, sink, cfg).run_available()

    # the records ceiling was never tuned (nothing to restore, no sticky
    # cross-workload cap — the r5-advice regression class is gone by design)
    assert int(spark.conf.get(arrow_conf_guard)) == 100000
    got = {r["path"]: r for r in sink.read().select("path", F.length("content").alias("len")).collect()}
    assert len(got) == n and got["k0"]["len"] == mb * MB + 2


def test_byte_cap_bounds_arrow_batches(spark):
    """Pin the mechanism the streaming path relies on: with a byte cap of
    B and rows of ~w bytes, a mapInPandas kernel receives batches of
    ~B/w rows — NOT the 100k records ceiling — proving the JVM Arrow
    writer chunks transfers by bytes."""
    import pandas as pd

    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, str(1 * MB))  # 1 MiB cap, ~100 KiB rows
        df = spark.range(200).select(
            F.col("id"), F.repeat(F.lit("x"), 100 * 1024).alias("payload")
        )

        def probe(batches):
            for pdf in batches:
                yield pd.DataFrame({"n": [len(pdf)]})

        sizes = [r["n"] for r in df.coalesce(1).mapInPandas(probe, "n long").collect()]
        # 1 MiB / ~100 KiB rows -> ~10 rows per batch; the records ceiling
        # (100k) would have delivered all 200 rows in one batch
        assert max(sizes) <= 32, sizes
        assert sum(sizes) == 200
    finally:
        spark.conf.set(key, before)
