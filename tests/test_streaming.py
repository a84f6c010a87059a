"""Streaming apply job: exactly-once, resume, schema evolution, lineage
(SURVEY.md §5.2.2-5.2.4, 5.2.6)."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fixtures.gen_binlog import generate_rich, write_epoch_files
from fixtures.oracle import replay_expected
from mysql_time_machine_spark.config import EngineConfig
from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink
from mysql_time_machine_spark.streaming.job import ApplyJob

N_EPOCHS = 5


@pytest.fixture(scope="module")
def small_log():
    return generate_rich(seed=11, n_keys=40, n_txns=150, n_epochs=N_EPOCHS)


@pytest.fixture(scope="module")
def binlog_dir(small_log, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("binlog")
    write_epoch_files(small_log, str(d), spark)
    return str(d)


def _expected(small_log):
    cols = [c[0] for c in small_log.registry[-1]["columns"]]
    return replay_expected(small_log.events, cols)


def _run_job(spark, binlog_dir, root, cfg=None):
    sink = ManifestParquetSink(spark, root)
    job = ApplyJob(spark, binlog_dir, sink, cfg or EngineConfig(max_files_per_trigger=1, shuffle_partitions=8))
    job.run_available()
    return job, sink


@pytest.fixture(scope="module")
def completed(spark, binlog_dir, small_log, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sink"))
    job, sink = _run_job(spark, binlog_dir, root)
    return job, sink


def _assert_state_matches(sink, small_log):
    exp = _expected(small_log)
    got = (
        sink.read()
        .withColumn("content_sha256", F.sha2("content", 256))
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert got["content_sha256"].tolist() == exp["content_sha256"].tolist()
    for c in [c[0] for c in small_log.registry[-1]["columns"]]:
        pd.testing.assert_series_equal(
            got[c].astype(object).where(got[c].notna(), None),
            exp[c].astype(object).where(exp[c].notna(), None),
            check_names=False, check_dtype=False,
        )


def test_streaming_final_state_matches_oracle(completed, small_log):
    _, sink = completed
    _assert_state_matches(sink, small_log)


def test_streaming_big_batch_escalates_to_sql_kernel(
    spark, binlog_dir, small_log, tmp_path_factory, monkeypatch
):
    """'auto' streaming regime escalation (EngineConfig.big_batch_rows): a
    micro-batch at/above the threshold runs the map-side-combined sql
    kernel (shuffle ~keys x cells) instead of sorted's full-data
    repartition — the 150 s/epoch non-scaling exchange the r6 scaling run
    measured at 31.5M-event batches. Same final table either way."""
    from mysql_time_machine_spark.operators import reassemble as re_mod

    calls = []
    real = re_mod.collapse_events_sql
    monkeypatch.setattr(
        re_mod, "collapse_events_sql", lambda ev: calls.append(1) or real(ev)
    )
    root = str(tmp_path_factory.mktemp("sink_bigbatch"))
    _, sink = _run_job(
        spark, binlog_dir, root,
        EngineConfig(max_files_per_trigger=1, shuffle_partitions=8, big_batch_rows=1),
    )
    assert calls, "threshold-sized micro-batches must run the sql kernel"
    _assert_state_matches(sink, small_log)

    # pinning the kernel explicitly disables the escalation
    calls.clear()
    root2 = str(tmp_path_factory.mktemp("sink_pinned"))
    _run_job(
        spark, binlog_dir, root2,
        EngineConfig(
            max_files_per_trigger=1, shuffle_partitions=8,
            big_batch_rows=1, collapse_impl="sorted",
        ),
    )
    assert not calls, "explicit collapse_impl must win over the escalation"


@pytest.mark.parametrize("impl", ["sql", "sorted"])
def test_streaming_collapse_impl_parity(spark, binlog_dir, small_log, impl, tmp_path_factory):
    """EngineConfig.collapse_impl swaps the kernel under the SAME streaming
    job; every kernel must land the identical final table."""
    root = str(tmp_path_factory.mktemp(f"sink_{impl}"))
    cfg = EngineConfig(max_files_per_trigger=1, shuffle_partitions=8, collapse_impl=impl)
    _, sink = _run_job(spark, binlog_dir, root, cfg)
    _assert_state_matches(sink, small_log)


def test_epochs_committed_once_each(completed):
    job, sink = completed
    snaps = sink.snapshots()[1:]  # skip empty snapshot 0
    epochs = [m["epoch_id"] for m in snaps]
    assert epochs == sorted(set(epochs)), "an epoch committed twice"
    assert len(epochs) == N_EPOCHS


def test_duplicate_delivery_fenced(completed, spark, binlog_dir, small_log):
    """Re-deliver an already-committed epoch: fence must no-op
    (CHANGES.txt:3-7 semantics)."""
    job, sink = completed
    n_before = len(sink.snapshots())
    first_epoch = spark.read.parquet(binlog_dir + "/epoch-00000.parquet")
    job.process_batch(first_epoch, 0)  # replay epoch 0
    assert len(sink.snapshots()) == n_before
    _assert_state_matches(sink, small_log)


def test_resume_from_checkpoint_after_chaos(spark, binlog_dir, small_log, tmp_path_factory):
    """Seeded chaos monkey kills epoch 2 before its commit; a restarted job
    resumes from the SS checkpoint and converges to the identical state
    with no double-apply (CHANGES.txt:126,125)."""
    root = str(tmp_path_factory.mktemp("sink_chaos"))
    cfg = EngineConfig(max_files_per_trigger=1, shuffle_partitions=8, fail_epochs=frozenset({2}))
    sink = ManifestParquetSink(spark, root)
    job = ApplyJob(spark, binlog_dir, sink, cfg)
    with pytest.raises(Exception, match="chaos-monkey"):
        try:
            job.run_available()
        except Exception as e:  # unwrap StreamingQueryException
            raise RuntimeError(str(e)) from e
    assert ManifestParquetSink(spark, root).current_manifest()["epoch_id"] < 2

    # restart: fresh job object (process restart), same checkpoint + sink
    sink2 = ManifestParquetSink(spark, root)
    job2 = ApplyJob(spark, binlog_dir, sink2, cfg)
    job2.run_available()
    _assert_state_matches(sink2, small_log)
    epochs = [m["epoch_id"] for m in sink2.snapshots()[1:]]
    assert epochs == sorted(set(epochs))
    assert len(epochs) == N_EPOCHS


def test_schema_evolution_streaming(completed, small_log):
    """DDL ADD COLUMN mid-stream: target schema evolves; pre-DDL snapshots
    lack the column; pre-DDL rows read NULL afterwards (CHANGES.txt:44-46)."""
    _, sink = completed
    final_cols = [c[0] for c in small_log.registry[-1]["columns"]]
    assert "stars" in final_cols and "license" in final_cols
    assert [c[0] for c in [tuple(x) for x in sink.current_manifest()["business_columns"]]] == final_cols
    first = sink.snapshots()[1]
    assert "stars" not in [c[0] for c in first["business_columns"]]
    # rows never touched after the DDL read NULL for the added column
    got = sink.read().toPandas()
    assert got["stars"].isna().any()
    assert got["stars"].notna().any()


def test_time_travel_snapshot_as_of(completed, spark, binlog_dir, small_log):
    """Point-in-time read reproduces the state after epoch 0 exactly —
    the hbase-snapshotter collapsed into one call (README.md:22-23)."""
    _, sink = completed
    first_snap = sink.snapshots()[1]
    got = (
        sink.snapshot_as_of(first_snap["snapshot_id"])
        .withColumn("content_sha256", F.sha2("content", 256))
        .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    epoch0 = small_log.events[small_log.events["epoch"] == 0]
    cols_then = [c[0] for c in small_log.registry[0]["columns"]]
    exp = replay_expected(epoch0, cols_then)
    assert got["content_sha256"].tolist() == exp["content_sha256"].tolist()


def test_time_travel_by_gtid(completed, small_log):
    """As-of-binlog-position read: latest snapshot fully applied at or
    before the bound."""
    _, sink = completed
    snaps = sink.snapshots()[1:]
    mid = snaps[len(snaps) // 2]
    got = sink.snapshot_as_of_gtid(mid["max_gtid_seq"])
    exact = sink.snapshot_as_of(mid["snapshot_id"])
    assert got.count() == exact.count()
    # a bound below every commit returns the empty initial snapshot
    assert sink.snapshot_as_of_gtid(-1).count() == 0


def test_time_travel_by_wallclock(completed):
    """TIMESTAMP AS OF on commit wall-clock time: every manifest records
    committed_at; a bound between two commits reads the earlier one, a
    bound in the future reads the current table."""
    _, sink = completed
    snaps = sink.snapshots()[1:]
    mid = snaps[len(snaps) // 2]
    got = sink.snapshot_as_of_timestamp(mid["committed_at"])
    assert got.count() == sink.snapshot_as_of(mid["snapshot_id"]).count()
    assert sink.snapshot_as_of_timestamp(0).count() == 0  # before first commit
    latest = sink.snapshot_as_of_timestamp(snaps[-1]["committed_at"] + 3600)
    assert latest.count() == sink.read().count()


def test_lineage_reconciliation(completed, small_log):
    """Sum of per-epoch consumed-event counters == generator-side emitted
    totals (mirrors CHANGES.txt:113-116,124: counters must not lose
    increments, checkpoint gated on metric consistency)."""
    _, sink = completed
    consumed_rows = 0
    consumed = {"DDL": 0, "ROTATE": 0}
    for m in sink.snapshots()[1:]:
        ec = m["lineage"]["events_consumed"]
        consumed_rows += ec.get("ROW", 0)
        consumed["DDL"] += ec.get("DDL", 0)
        consumed["ROTATE"] += ec.get("ROTATE", 0)
    em = small_log.emitted
    assert consumed_rows == em["I"] + em["U"] + em["D"]
    assert consumed["DDL"] == em["DDL"]
    assert consumed["ROTATE"] == em["ROTATE"]
    # row-level applied counters (two-level taxonomy, CHANGES.txt:171-172):
    # collapsed rows <= consumed row events, > 0
    lin = sink.read_lineage().toPandas()
    applied = (lin["n_I"] + lin["n_U"] + lin["n_D"]).sum()
    assert 0 < applied <= consumed_rows


def test_changelog_daily_buckets(completed, small_log):
    """A6: every row event appended to the changelog with its UTC day."""
    _, sink = completed
    cl = sink.read_changelog().toPandas()
    em = small_log.emitted
    assert len(cl) == em["I"] + em["U"] + em["D"]
    assert (cl["day_utc"] == "20240101").all()
    # the day is a PARTITION: a day-filtered read touches only that day's
    # files, and the value is not stored inside them
    assert sink.changelog_files_for("20240101") == sink.changelog_files_for()
    assert sink.changelog_files_for("20990101") == []


def test_changelog_day_partition_prunes_files(spark, tmp_path):
    """read_changelog(day) must read strictly fewer files than the full
    changelog when multiple days exist — the daily-import pruning path."""
    import datetime as dt

    from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink

    sink = ManifestParquetSink(spark, str(tmp_path / "sink_cl"), n_buckets=4)
    cl_schema = (
        "repo string, path string, op string, gtid_seq long, log_file string, "
        "log_pos long, ts timestamp, schema_version int, day_utc string"
    )

    def batch(gtid):
        from pyspark.sql import Row

        from mysql_time_machine_spark.operators.reassemble import COLLAPSED_SCHEMA

        return spark.createDataFrame(
            [Row(repo="o", path=f"k{gtid}", row_status="I",
                 image={"commit": "c", "lang": "py", "content": "x"}, full_image=True,
                 gtid_seq=gtid, schema_version=1, updated_ts=dt.datetime(2024, 1, 1))],
            COLLAPSED_SCHEMA,
        )

    for epoch, (gtid, day) in enumerate([(10, "20240101"), (20, "20240102")], start=1):
        cl = spark.createDataFrame(
            [("o", f"k{gtid}", "I", gtid, "binlog.000001", gtid,
              dt.datetime(2024, 1, epoch), 1, day)],
            cl_schema,
        )
        assert sink.merge(batch(gtid), epoch_id=epoch, changelog=cl)

    total = sink.changelog_files_for()
    d1 = sink.changelog_files_for("20240101")
    assert 0 < len(d1) < len(total)
    one_day = sink.read_changelog(day="20240101").toPandas()
    assert list(one_day["day_utc"]) == ["20240101"] and list(one_day["gtid_seq"]) == [10]
    both = sink.read_changelog().toPandas()
    assert sorted(both["day_utc"]) == ["20240101", "20240102"]


def test_changelog_manifest_legacy_list_migrated(spark, tmp_path):
    """A sink root written before the day-partitioned changelog layout
    stored changelog_files as a flat LIST. Opening it must not break:
    merge() migrates the list into the day map (day recovered from the
    day_utc=... path segment) and read_changelog still returns every
    legacy row alongside new ones."""
    import datetime as dt
    import json
    import os

    from pyspark.sql import Row

    from mysql_time_machine_spark.operators.reassemble import COLLAPSED_SCHEMA
    from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink

    root = str(tmp_path / "sink_legacy")
    sink = ManifestParquetSink(spark, root, n_buckets=4)
    cl_schema = (
        "repo string, path string, op string, gtid_seq long, log_file string, "
        "log_pos long, ts timestamp, schema_version int, day_utc string"
    )

    def batch(gtid):
        return spark.createDataFrame(
            [Row(repo="o", path=f"k{gtid}", row_status="I",
                 image={"commit": "c", "lang": "py", "content": "x"}, full_image=True,
                 gtid_seq=gtid, schema_version=1, updated_ts=dt.datetime(2024, 1, 1))],
            COLLAPSED_SCHEMA,
        )

    def changelog(gtid, day):
        return spark.createDataFrame(
            [("o", f"k{gtid}", "I", gtid, "binlog.000001", gtid,
              dt.datetime(2024, 1, 1), 1, day)],
            cl_schema,
        )

    assert sink.merge(batch(10), epoch_id=1, changelog=changelog(10, "20240101"))

    # forge the pre-migration manifest shape: flatten the day map to a list
    cur = os.path.join(root, "_current")
    with open(cur) as f:
        name = f.read().strip()
    mpath = os.path.join(root, "manifests", name)
    with open(mpath) as f:
        m = json.load(f)
    assert isinstance(m["changelog_files"], dict)
    m["changelog_files"] = [f_ for fl in m["changelog_files"].values() for f_ in fl]
    with open(mpath, "w") as f:
        json.dump(m, f)

    # a fresh sink over the legacy root: reads work and recover the day
    sink2 = ManifestParquetSink(spark, root, n_buckets=4)
    assert sink2.changelog_files_for("20240101") == sink2.changelog_files_for()
    legacy = sink2.read_changelog().toPandas()
    assert list(legacy["day_utc"]) == ["20240101"] and list(legacy["gtid_seq"]) == [10]

    # and a new epoch merges on top without touching the legacy entries
    assert sink2.merge(batch(20), epoch_id=2, changelog=changelog(20, "20240102"))
    both = sink2.read_changelog().toPandas()
    assert sorted(both["day_utc"]) == ["20240101", "20240102"]
    assert len(sink2.changelog_files_for("20240101")) > 0


def test_expire_snapshots_keeps_carried_files(spark, tmp_path):
    """Snapshot expiration must delete ONLY files referenced by no
    retained snapshot: bucket-granular CoW carries untouched buckets by
    reference, so a file written in epoch 1 but still referenced by the
    current snapshot has to survive expiring epoch 1's snapshot. Current
    reads are byte-identical; expired time travel fails loudly."""
    import datetime as dt
    import os

    import pytest as _pytest
    from pyspark.sql import Row

    from mysql_time_machine_spark.operators.reassemble import COLLAPSED_SCHEMA
    from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink

    sink = ManifestParquetSink(spark, str(tmp_path / "sink_exp"), n_buckets=4)

    def batch(path, gtid):
        return spark.createDataFrame(
            [Row(repo="o", path=path, row_status="I",
                 image={"commit": "c", "lang": "py", "content": f"x{gtid}"},
                 full_image=True, gtid_seq=gtid, schema_version=1,
                 updated_ts=dt.datetime(2024, 1, 1))],
            COLLAPSED_SCHEMA,
        )

    # epoch 1 writes key kA; epochs 2-3 touch OTHER keys, so kA's bucket
    # file from snapshot 1 is carried by reference into snapshot 3
    keys = ["kA", "zq1", "zq2"]  # distinct buckets not required; CoW works either way
    for epoch, k in enumerate(keys, start=1):
        assert sink.merge(batch(k, epoch * 10), epoch_id=epoch)

    before = {(r["path"], r["content"]) for r in sink.read().collect()}
    all_files_before = {
        f for m in sink.snapshots() for fl in m["buckets"].values() for f in fl
    }

    stats = sink.expire_snapshots(keep_last=2)
    assert stats["expired_snapshots"] == 2  # snapshots 0 (empty) and 1

    # current read identical; retained history walkable; chain severed
    assert {(r["path"], r["content"]) for r in sink.read().collect()} == before
    chain = sink.snapshots()
    assert [m["snapshot_id"] for m in chain] == [2, 3]
    assert chain[0]["parent"] is None

    # every file the current snapshot references still exists (incl. the
    # carried epoch-1 file); files referenced only by expired snapshots
    # are gone from disk
    cur_files = {f for fl in sink.current_manifest()["buckets"].values() for f in fl}
    # the carry case is real: kA hashes to its own bucket, untouched by
    # epochs 2-3, so the CURRENT snapshot references a file physically
    # written under the EXPIRED snapshot 1's data dir — it must survive
    assert any(f"{os.sep}s000001{os.sep}" in f for f in cur_files)
    assert all(os.path.exists(f) for f in cur_files)
    retained_files = {
        f for m in chain for fl in m["buckets"].values() for f in fl
    }
    for f in all_files_before - retained_files:
        assert not os.path.exists(f)

    # expired time travel fails loudly, retained still works
    with _pytest.raises(FileNotFoundError):
        sink.snapshot_as_of(1)
    with _pytest.raises(ValueError, match="expired"):
        sink.snapshot_as_of_gtid(5)  # bound predates retained history
    assert sink.snapshot_as_of(2).count() == 2


def test_expire_changelog_day_retention(spark, tmp_path):
    """Day-keyed changelog retention: files of days before the cutoff are
    deleted and de-referenced in a maintenance commit that must NOT
    advance the epoch fence."""
    import datetime as dt
    import os

    from pyspark.sql import Row

    from mysql_time_machine_spark.operators.reassemble import COLLAPSED_SCHEMA
    from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink

    sink = ManifestParquetSink(spark, str(tmp_path / "sink_clexp"), n_buckets=4)
    cl_schema = (
        "repo string, path string, op string, gtid_seq long, log_file string, "
        "log_pos long, ts timestamp, schema_version int, day_utc string"
    )
    for epoch, (gtid, day) in enumerate([(10, "20240101"), (20, "20240102")], start=1):
        b = spark.createDataFrame(
            [Row(repo="o", path=f"k{gtid}", row_status="I",
                 image={"commit": "c", "lang": "py", "content": "x"}, full_image=True,
                 gtid_seq=gtid, schema_version=1, updated_ts=dt.datetime(2024, 1, 1))],
            COLLAPSED_SCHEMA,
        )
        cl = spark.createDataFrame(
            [("o", f"k{gtid}", "I", gtid, "binlog.000001", gtid,
              dt.datetime(2024, 1, epoch), 1, day)],
            cl_schema,
        )
        assert sink.merge(b, epoch_id=epoch, changelog=cl)

    old_files = sink.changelog_files_for("20240101")
    assert old_files
    epoch_before = sink.current_manifest()["epoch_id"]

    stats = sink.expire_changelog(older_than_day="20240102")
    assert stats == {"expired_days": 1, "deleted_files": len(old_files)}
    assert all(not os.path.exists(f) for f in old_files)
    assert sink.changelog_files_for("20240101") == []
    kept = sink.read_changelog().toPandas()
    assert list(kept["day_utc"]) == ["20240102"]
    # maintenance commit: new snapshot, SAME fence position
    m = sink.current_manifest()
    assert m["epoch_id"] == epoch_before and m["maintenance"].startswith("expire_changelog")
    # idempotent / no-op second pass
    assert sink.expire_changelog(older_than_day="20240102") == {
        "expired_days": 0, "deleted_files": 0,
    }


def test_unknown_collapse_impl_rejected():
    """A typo'd kernel name must raise, not silently dispatch to the
    slowest kernel."""
    import pytest as _pytest

    cfg = EngineConfig(collapse_impl="sortd")
    with _pytest.raises(ValueError, match="sortd"):
        cfg.resolved_collapse_impl("streaming")
    assert EngineConfig(collapse_impl="sorted").resolved_collapse_impl("streaming") == "sorted"
    assert EngineConfig().resolved_collapse_impl("batch") == "sql"
    # the former grouped-map kernel's name stays a working alias
    for regime in ("streaming", "batch"):
        assert EngineConfig(collapse_impl="pandas").resolved_collapse_impl(regime) == "sorted"


def test_dry_run_writes_nothing(spark, binlog_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sink_dry"))
    cfg = EngineConfig(max_files_per_trigger=1, shuffle_partitions=8, dry_run=True)
    job, sink = _run_job(spark, binlog_dir, root, cfg)
    assert len(sink.snapshots()) == 1  # only the empty initial snapshot
    assert sink.read().count() == 0
    assert len(job.metrics) == N_EPOCHS


def test_rewrite_data_files_compaction(spark, tmp_path):
    """Compaction (Iceberg rewrite_data_files analogue): multi-part bucket
    file sets collapse to one file per bucket in a maintenance commit that
    is byte-equal on read, leaves the epoch fence alone, and keeps prior
    snapshots readable (old files reclaimed only by expire_snapshots)."""
    import datetime as dt
    import os

    from pyspark.sql import Row

    from mysql_time_machine_spark.operators.reassemble import COLLAPSED_SCHEMA
    from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink

    sink = ManifestParquetSink(spark, str(tmp_path / "sink_cmp"), n_buckets=4)

    def batch(n0, n1):
        rows = [
            Row(repo="o", path=f"k{i:03d}", row_status="I",
                image={"commit": "c", "lang": "py", "content": f"x{i}"},
                full_image=True, gtid_seq=i, schema_version=1,
                updated_ts=dt.datetime(2024, 1, 1))
            for i in range(n0, n1)
        ]
        return spark.createDataFrame(rows, COLLAPSED_SCHEMA).repartition(8)

    # the merge write now clusters by _bucket (one writer per bucket), so
    # multi-file buckets no longer arise from write-task layout; fragment
    # the way real tables do — the per-file record/size cap splits a
    # bucket-writer's output into several files
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "4")
    try:
        assert sink.merge(batch(0, 40), epoch_id=1)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    m1 = sink.current_manifest()
    assert any(len(fl) > 1 for fl in m1["buckets"].values())  # fragmented
    before = sorted((r["path"], r["content"]) for r in sink.read().collect())
    epoch_before = m1["epoch_id"]

    stats = sink.rewrite_data_files()
    assert stats["compacted_buckets"] > 0
    assert stats["files_after"] == stats["compacted_buckets"]  # 1 file each
    assert stats["files_before"] > stats["files_after"]

    m2 = sink.current_manifest()
    assert m2["epoch_id"] == epoch_before  # fence untouched
    assert m2["maintenance"].startswith("rewrite_data_files")
    assert all(len(fl) == 1 for fl in m2["buckets"].values())
    assert sorted((r["path"], r["content"]) for r in sink.read().collect()) == before
    # prior snapshot still time-travelable: compaction deleted nothing
    assert sorted(
        (r["path"], r["content"]) for r in sink.snapshot_as_of(m1["snapshot_id"]).collect()
    ) == before

    # second pass is a no-op (already 1 file per bucket)
    assert sink.rewrite_data_files() == {
        "compacted_buckets": 0, "files_before": 0, "files_after": 0,
    }

    # a later epoch merges on top of the compacted layout
    assert sink.merge(batch(100, 104), epoch_id=2)
    assert sink.read().count() == 44
    # expire reclaims the pre-compaction small files; reads unaffected
    pre_compaction = {f for fl in m1["buckets"].values() for f in fl}
    sink.expire_snapshots(keep_last=2)
    current_files = {f for fl in sink.current_manifest()["buckets"].values() for f in fl}
    for f in pre_compaction - current_files:
        assert not os.path.exists(f)
    assert sink.read().count() == 44


def test_remove_orphan_files_and_expire_crash_ordering(spark, tmp_path, monkeypatch):
    """Maintenance crash consistency: expire commits the dereferencing
    manifest BEFORE deleting files, so a crash mid-deletion leaves only
    orphans (reads stay healthy) and remove_orphan_files reclaims them
    without touching referenced files."""
    import datetime as dt
    import os

    from pyspark.sql import Row

    from mysql_time_machine_spark.operators.reassemble import COLLAPSED_SCHEMA
    from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink

    sink = ManifestParquetSink(spark, str(tmp_path / "sink_orph"), n_buckets=2)
    cl_schema = (
        "repo string, path string, op string, gtid_seq long, log_file string, "
        "log_pos long, ts timestamp, schema_version int, day_utc string"
    )
    for epoch, (gtid, day) in enumerate([(10, "20240101"), (20, "20240102")], start=1):
        b = spark.createDataFrame(
            [Row(repo="o", path=f"k{gtid}", row_status="I",
                 image={"commit": "c", "lang": "py", "content": "x"}, full_image=True,
                 gtid_seq=gtid, schema_version=1, updated_ts=dt.datetime(2024, 1, 1))],
            COLLAPSED_SCHEMA,
        )
        cl = spark.createDataFrame(
            [("o", f"k{gtid}", "I", gtid, "binlog.000001", gtid,
              dt.datetime(2024, 1, epoch), 1, day)],
            cl_schema,
        )
        assert sink.merge(b, epoch_id=epoch, changelog=cl)

    doomed = sink.changelog_files_for("20240101")
    assert doomed

    # crash INSIDE the deletion loop (after the metadata commit)
    real_remove = os.remove
    with monkeypatch.context() as mp:
        def boom(path):
            raise OSError(f"injected crash deleting {path}")
        mp.setattr(os, "remove", boom)
        import pytest as _pytest
        with _pytest.raises(OSError, match="injected crash"):
            sink.expire_changelog(older_than_day="20240102")

    # the manifest ALREADY dereferences the doomed files: reads healthy,
    # the undeleted files are mere orphans on disk
    assert sink.changelog_files_for("20240101") == []
    assert list(sink.read_changelog().toPandas()["day_utc"]) == ["20240102"]
    assert all(os.path.exists(f) for f in doomed)  # crash left them behind

    # default grace window (Iceberg's older_than analogue): fresh files —
    # possibly an in-flight uncommitted write — are NEVER deleted
    assert sink.remove_orphan_files()["deleted_files"] == 0
    assert all(os.path.exists(f) for f in doomed)
    stats = sink.remove_orphan_files(older_than_sec=0)
    assert stats["deleted_files"] >= len(doomed)
    assert all(not real_remove or not os.path.exists(f) for f in doomed)
    # every referenced file survived; reads byte-identical
    for m in sink.snapshots():
        for fl in m["buckets"].values():
            assert all(os.path.exists(f) for f in fl)
    assert list(sink.read_changelog().toPandas()["day_utc"]) == ["20240102"]
    assert sink.read().count() == 2
