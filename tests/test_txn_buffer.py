"""Cross-batch transaction reassembly (v2 uuidBuffer, SURVEY §2.5 A1)."""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fixtures.gen_binlog import generate_rich, write_epoch_files_splitting
from fixtures.oracle import replay_expected
from mysql_time_machine_spark.config import EngineConfig
from mysql_time_machine_spark.schema import EVENT_SCHEMA
from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink
from mysql_time_machine_spark.streaming.job import ApplyJob


@pytest.fixture(scope="module")
def split_log():
    return generate_rich(seed=21, n_keys=30, n_txns=100, n_epochs=6)


def test_split_transactions_reassembled(spark, split_log, tmp_path_factory):
    """Epoch files deliberately cut MID-transaction: only the txn buffer
    makes the final state correct; it must equal the oracle."""
    binlog = str(tmp_path_factory.mktemp("binlog_split"))
    write_epoch_files_splitting(split_log, binlog, spark, n_files=6)
    root = str(tmp_path_factory.mktemp("sink_split"))
    cfg = EngineConfig(
        max_files_per_trigger=1, shuffle_partitions=8, buffer_transactions=True,
        write_changelog=False,
    )
    sink = ManifestParquetSink(spark, root)
    ApplyJob(spark, binlog, sink, cfg).run_available()

    cols = [c[0] for c in split_log.registry[-1]["columns"]]
    exp = replay_expected(split_log.events, cols)
    got = (
        sink.read()
        .withColumn("content_sha256", F.sha2("content", 256))
        .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert got["content_sha256"].tolist() == exp["content_sha256"].tolist()


def test_uncommitted_tail_not_applied(spark, split_log, tmp_path_factory):
    """A transaction whose COMMIT never arrives must not reach the table
    (buffered, then evicted by timeout — CHANGES.txt:112 semantics)."""
    ev = split_log.events.drop(columns=["epoch"]).reset_index(drop=True)
    # truncate the log INSIDE the last transaction (after its BEGIN/rows,
    # before its COMMIT)
    last_txn = ev[ev["op"] == "COMMIT"]["txn_id"].iloc[-1]
    cut = ev[(ev["txn_id"] == last_txn) & (ev["op"] == "COMMIT")].index[0]
    truncated = ev.iloc[:cut]

    import fixtures.gen_binlog as gb

    log2 = gb.RichLog(
        events=truncated.assign(epoch=0), registry=split_log.registry, n_epochs=1
    )
    binlog = str(tmp_path_factory.mktemp("binlog_trunc"))
    write_epoch_files_splitting(log2, binlog, spark, n_files=2)
    root = str(tmp_path_factory.mktemp("sink_trunc"))
    cfg = EngineConfig(
        max_files_per_trigger=1, shuffle_partitions=8, buffer_transactions=True,
        write_changelog=False,
    )
    sink = ManifestParquetSink(spark, root)
    ApplyJob(spark, binlog, sink, cfg).run_available()

    # expected state: full log MINUS the dangling transaction's events
    committed_only = ev.iloc[:cut][lambda d: d["txn_id"] != last_txn]
    cols = [c[0] for c in split_log.registry[-1]["columns"]]
    exp = replay_expected(committed_only, cols)
    got = (
        sink.read().withColumn("content_sha256", F.sha2("content", 256))
        .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    assert got["content_sha256"].tolist() == exp["content_sha256"].tolist()


# ---------------------------------------------------------------------------
# Abandoned-transaction eviction (CHANGES.txt:112 clear-on-rotate analogue)
# ---------------------------------------------------------------------------

T0 = pd.Timestamp("2024-01-01")


def _abandoned_stream(spark, tmpdir: str) -> str:
    """3 epoch files: (0) committed seed + a BEGIN-without-COMMIT partial
    update on the same key; (1) a committed txn 2 days later (advances the
    watermark past the abandon bound); (2) a committed txn 3 days later
    (the batch in which the event-time timeout fires)."""
    rows = []

    def ev(epoch, op, g, txn, seq, repo=None, path=None, after=None, ddl=None, ts=None):
        rows.append(dict(
            log_file="binlog.000001", log_pos=g, gtid=f"u:{g}", gtid_seq=g,
            txn_id=txn, seq_in_txn=seq, server_id=1,
            ts=ts if ts is not None else T0 + pd.Timedelta(seconds=g),
            op=op, schema_version=1, repo=repo, path=path,
            before=None, after=after, ddl=ddl, epoch=epoch,
        ))

    img = {"commit": "c0", "lang": "py", "content": "base"}
    ev(0, "BEGIN", 10, 1, 0, ddl="BEGIN")
    ev(0, "I", 10, 1, 1, "o", "k0", img)
    ev(0, "COMMIT", 10, 1, 9, ddl="COMMIT")
    ev(0, "BEGIN", 20, 2, 0, ddl="BEGIN")
    ev(0, "U", 20, 2, 1, "o", "k0", {"content": "DANGLING"})  # never commits
    d2, d3 = T0 + pd.Timedelta(days=2), T0 + pd.Timedelta(days=3)
    ev(1, "BEGIN", 30, 3, 0, ddl="BEGIN", ts=d2)
    ev(1, "I", 30, 3, 1, "o", "k1", {"commit": "c1", "lang": "go", "content": "b1"}, ts=d2)
    ev(1, "COMMIT", 30, 3, 9, ddl="COMMIT", ts=d2)
    ev(2, "BEGIN", 40, 4, 0, ddl="BEGIN", ts=d3)
    ev(2, "U", 40, 4, 1, "o", "k1", {"content": "b1v2"}, ts=d3)
    ev(2, "COMMIT", 40, 4, 9, ddl="COMMIT", ts=d3)

    df = pd.DataFrame(rows)
    binlog = os.path.join(tmpdir, "binlog")
    os.makedirs(binlog)
    for e in range(3):
        sub = df[df["epoch"] == e].drop(columns=["epoch"])
        sdf = spark.createDataFrame(sub, schema=EVENT_SCHEMA)
        stage = os.path.join(tmpdir, f"s{e}")
        sdf.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copyfile(part, os.path.join(binlog, f"epoch-{e:03d}.parquet"))
        time.sleep(0.05)
    return binlog


@pytest.mark.parametrize("timeout,state_rows", [("1 hour", 0), (None, 1)])
def test_abandoned_txn_state_evicted(spark, tmp_path_factory, timeout, state_rows):
    """With abandon_timeout set, a BEGIN-without-COMMIT transaction's state
    is evicted once the stream's event time advances past the bound — its
    fragments never reach the table and the pending store shrinks to
    empty. Without it (v1), the dangling row stays."""
    tmpdir = str(tmp_path_factory.mktemp(f"evict_{state_rows}"))
    binlog = _abandoned_stream(spark, tmpdir)
    ckpt = os.path.join(tmpdir, "ckpt")
    cfg = EngineConfig(
        max_files_per_trigger=1, shuffle_partitions=4, buffer_transactions=True,
        txn_abandon_timeout=timeout, write_changelog=False,
    )
    sink = ManifestParquetSink(spark, os.path.join(tmpdir, "sink"))
    job = ApplyJob(spark, binlog, sink, cfg, checkpoint_dir=ckpt)
    job.run_available()

    final = {r["path"]: r for r in sink.read().collect()}
    assert final["k0"]["content"] == "base"  # dangling update never applied
    assert final["k1"]["content"] == "b1v2"  # later txns unaffected
    # buffered checkpoints are keyed by the pending-store format version
    # (ApplyJob appends txn_jvm_v{N}, so a format bump never resumes
    # incompatible state)
    from mysql_time_machine_spark.streaming.txn_store import PENDING_FORMAT_VERSION

    assert job.checkpoint_dir == os.path.join(ckpt, f"txn_jvm_v{PENDING_FORMAT_VERSION}")
    pend = job.txn_store.pending_fragments(spark)
    assert pend.count() == state_rows
    if state_rows:  # the dangler, nothing else
        assert [r["txn_id"] for r in pend.collect()] == [2]


def test_batch_complete_txns_bypass_state(spark, tmp_path_factory):
    """The round-5 hybrid: a transaction whose BEGIN and COMMIT land in the
    SAME micro-batch must never be written to the buffer — after the
    first batch, state holds ONLY the boundary-straddling fragment."""
    rows = []

    def ev(epoch, op, g, txn, seq, repo=None, path=None, after=None, ddl=None):
        rows.append(dict(
            log_file="binlog.000001", log_pos=g, gtid=f"u:{g}", gtid_seq=g,
            txn_id=txn, seq_in_txn=seq, server_id=1,
            ts=T0 + pd.Timedelta(seconds=g), op=op, schema_version=1,
            repo=repo, path=path, before=None, after=after, ddl=ddl, epoch=epoch,
        ))

    # file 0: txn 1 complete, txn 2 straddles (COMMIT lands in file 1)
    ev(0, "BEGIN", 10, 1, 0, ddl="BEGIN")
    ev(0, "I", 11, 1, 1, "o", "a", {"commit": "c0", "lang": "py", "content": "A"})
    ev(0, "COMMIT", 12, 1, 9, ddl="COMMIT")
    ev(0, "BEGIN", 20, 2, 0, ddl="BEGIN")
    ev(0, "I", 21, 2, 1, "o", "b", {"commit": "c0", "lang": "py", "content": "B1"})
    # file 1: txn 2's tail + commit, txn 3 complete
    ev(1, "U", 30, 2, 2, "o", "b", {"content": "B2"})
    ev(1, "COMMIT", 31, 2, 9, ddl="COMMIT")
    ev(1, "BEGIN", 40, 3, 0, ddl="BEGIN")
    ev(1, "I", 41, 3, 1, "o", "c", {"commit": "c0", "lang": "go", "content": "C"})
    ev(1, "COMMIT", 42, 3, 9, ddl="COMMIT")

    tmpdir = str(tmp_path_factory.mktemp("hybrid"))
    binlog = _write_epoch_files(spark, tmpdir, pd.DataFrame(rows))

    ckpt = os.path.join(tmpdir, "ckpt")
    cfg = EngineConfig(
        max_files_per_trigger=1, shuffle_partitions=4, buffer_transactions=True,
        write_changelog=False,
    )
    sink = ManifestParquetSink(spark, os.path.join(tmpdir, "sink"))
    job = ApplyJob(spark, binlog, sink, cfg, checkpoint_dir=ckpt)
    job.run_available()

    final = {r["path"]: r["content"] for r in sink.read().collect()}
    assert final == {"a": "A", "b": "B2", "c": "C"}

    # snapshot 0 parked ONLY the straddler's fragment; batch-complete
    # txn 1 never entered the store. After batch 1: empty.
    snap0 = job.txn_store.pending_fragments(spark, epoch=0)
    assert [r["txn_id"] for r in snap0.collect()] == [2]
    assert job.txn_store.pending_fragments(spark).count() == 0


# ---------------------------------------------------------------------------
# Pinned eviction semantics (round 6): in-batch COMMIT beats same-batch
# expiry; evicted-then-committed transactions drop WHOLE (grace set)
# ---------------------------------------------------------------------------


def _write_epoch_files(spark, tmpdir: str, df: pd.DataFrame) -> str:
    binlog = os.path.join(tmpdir, "binlog")
    os.makedirs(binlog)
    for e in sorted(df["epoch"].unique()):
        sub = df[df["epoch"] == e].drop(columns=["epoch"])
        sdf = spark.createDataFrame(sub, schema=EVENT_SCHEMA)
        stage = os.path.join(tmpdir, f"s{e}")
        sdf.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copyfile(part, os.path.join(binlog, f"epoch-{e:03d}.parquet"))
        time.sleep(0.05)
    return binlog


def _late_commit_log(advance_ts: list, commit_ts) -> pd.DataFrame:
    """f0: committed seed txn1 on k0 + txn2 BEGIN + U k0 {lang: rust};
    then one committed advance txn per entry of advance_ts (on k1); final
    file: txn2 trailing U k0 {content: late} + its COMMIT at commit_ts."""
    rows = []

    def ev(epoch, op, g, txn, seq, repo=None, path=None, after=None, ddl=None, ts=None):
        rows.append(dict(
            log_file="binlog.000001", log_pos=g, gtid=f"u:{g}", gtid_seq=g,
            txn_id=txn, seq_in_txn=seq, server_id=1,
            ts=ts if ts is not None else T0 + pd.Timedelta(seconds=g),
            op=op, schema_version=1, repo=repo, path=path,
            before=None, after=after, ddl=ddl, epoch=epoch,
        ))

    ev(0, "BEGIN", 10, 1, 0, ddl="BEGIN")
    ev(0, "I", 10, 1, 1, "o", "k0", {"commit": "c0", "lang": "py", "content": "base"})
    ev(0, "COMMIT", 10, 1, 9, ddl="COMMIT")
    ev(0, "BEGIN", 20, 2, 0, ddl="BEGIN")
    ev(0, "U", 20, 2, 1, "o", "k0", {"lang": "rust"})  # buffered fragment
    g = 30
    for i, ts in enumerate(advance_ts):
        txn = 3 + i
        ev(1 + i, "BEGIN", g, txn, 0, ddl="BEGIN", ts=ts)
        ev(1 + i, "I", g, txn, 1, "o", "k1", {"commit": "c1", "lang": "go", "content": f"a{i}"}, ts=ts)
        ev(1 + i, "COMMIT", g, txn, 9, ddl="COMMIT", ts=ts)
        g += 10
    last = 1 + len(advance_ts)
    ev(last, "U", g, 2, 2, "o", "k0", {"content": "late"}, ts=commit_ts)
    ev(last, "COMMIT", g + 1, 2, 9, ddl="COMMIT", ts=commit_ts)
    return pd.DataFrame(rows)


def _run_buffered(spark, tmpdir, df):
    binlog = _write_epoch_files(spark, tmpdir, df)
    cfg = EngineConfig(
        max_files_per_trigger=1, shuffle_partitions=4, buffer_transactions=True,
        txn_abandon_timeout="1 hour", write_changelog=False,
    )
    sink = ManifestParquetSink(spark, os.path.join(tmpdir, "sink"))
    job = ApplyJob(spark, binlog, sink, cfg, checkpoint_dir=os.path.join(tmpdir, "ckpt"))
    job.run_available()
    return sink, job


def test_state_commit_wins_over_same_batch_expiry(spark, tmp_path_factory):
    """txn2's buffered fragment falls behind the abandon bound in the SAME
    micro-batch its COMMIT arrives in: the advance txn and txn2's tail +
    COMMIT share the last file, and txn2's own events carry old statement
    timestamps, so its last activity is days behind the high-water mark.
    The commit must win — the transaction releases WHOLE (both its
    updates), not just the in-batch tail, because the pending store only
    evicts transactions still open after the batch."""
    tmpdir = str(tmp_path_factory.mktemp("protect"))
    d2 = T0 + pd.Timedelta(days=2)
    df = _late_commit_log([d2], commit_ts=T0 + pd.Timedelta(minutes=1))
    df["epoch"] = df["epoch"].clip(upper=1)  # advance + commit: one batch
    sink, job = _run_buffered(spark, tmpdir, df)
    final = {r["path"]: r for r in sink.read().collect()}
    # released whole: the buffered {lang: rust} AND the trailing {content: late}
    assert final["k0"]["lang"] == "rust"
    assert final["k0"]["content"] == "late"
    assert job.txn_store.pending_fragments(spark).count() == 0


def test_evicted_then_committed_dropped_whole(spark, tmp_path_factory):
    """Pinned semantics: once a transaction is evicted by abandon_timeout,
    a late COMMIT (plus trailing fragments) within the grace window is
    dropped WHOLE — never applied as a partial transaction. Two advance
    files put the eviction one micro-batch BEFORE the commit."""
    tmpdir = str(tmp_path_factory.mktemp("evictcommit"))
    d2 = T0 + pd.Timedelta(days=2)
    df = _late_commit_log(
        [d2, d2 + pd.Timedelta(minutes=10)],
        commit_ts=d2 + pd.Timedelta(minutes=20),
    )
    sink, job = _run_buffered(spark, tmpdir, df)
    final = {r["path"]: r for r in sink.read().collect()}
    # NOTHING of txn2 applied: not the buffered {lang: rust}, not the
    # trailing {content: late}
    assert final["k0"]["lang"] == "py"
    assert final["k0"]["content"] == "base"
    assert final["k1"]["content"] == "a1"
    # fragments gone and the grace entry retired by the commit
    assert job.txn_store.pending_fragments(spark).count() == 0
    metas = sorted(f for f in os.listdir(job.txn_store.root) if f.startswith("meta-"))
    with open(os.path.join(job.txn_store.root, metas[-1])) as fh:
        assert json.load(fh).get("evicted") in (None, {})


@pytest.mark.parametrize("one_file_rows,many_files", [(100_000, False), (1, True)])
def test_straddler_snapshot_bounded_by_rows(
    spark, tmp_path_factory, monkeypatch, one_file_rows, many_files
):
    """The pending snapshot is funnelled into one file only while its
    parked ROWS stay under SNAPSHOT_ONE_FILE_ROWS, whatever the number of
    open transactions: here ONE open transaction spread over the two
    files (scan partitions) of micro-batch 0 keeps a parallel write once
    its rows pass the bound — and the final table is unchanged."""
    from mysql_time_machine_spark.streaming import txn_store

    monkeypatch.setattr(txn_store, "SNAPSHOT_ONE_FILE_ROWS", one_file_rows)
    rows = []

    def ev(epoch, op, g, txn, seq, path=None, after=None, ddl=None):
        rows.append(dict(
            log_file="binlog.000001", log_pos=g, gtid=f"u:{g}", gtid_seq=g,
            txn_id=txn, seq_in_txn=seq, server_id=1,
            ts=T0 + pd.Timedelta(seconds=g), op=op, schema_version=1,
            repo="o" if path else None, path=path, before=None, after=after,
            ddl=ddl, epoch=epoch,
        ))

    # files 0 and 1 (micro-batch 0): the open txn 1's BEGIN and rows;
    # file 2 (micro-batch 1): its last row + COMMIT
    ev(0, "BEGIN", 10, 1, 0, ddl="BEGIN")
    ev(0, "I", 11, 1, 1, "a", {"commit": "c0", "lang": "py", "content": "A"})
    ev(1, "I", 12, 1, 2, "b", {"commit": "c0", "lang": "py", "content": "B"})
    ev(2, "U", 13, 1, 3, "a", {"content": "A2"})
    ev(2, "COMMIT", 14, 1, 9, ddl="COMMIT")

    tmpdir = str(tmp_path_factory.mktemp(f"snaprows_{one_file_rows}"))
    binlog = _write_epoch_files(spark, tmpdir, pd.DataFrame(rows))
    cfg = EngineConfig(
        max_files_per_trigger=2, shuffle_partitions=4, buffer_transactions=True,
        write_changelog=False,
    )
    sink = ManifestParquetSink(spark, os.path.join(tmpdir, "sink"))
    job = ApplyJob(spark, binlog, sink, cfg, checkpoint_dir=os.path.join(tmpdir, "ckpt"))
    job.run_available()

    snap0 = job.txn_store.pending_fragments(spark, epoch=0)
    assert sorted(r["path"] for r in snap0.collect()) == ["a", "b"]
    files = glob.glob(os.path.join(job.txn_store.root, "snap-000000000", "part-*.parquet"))
    assert (len(files) > 1) == many_files, files
    final = {r["path"]: r["content"] for r in sink.read().collect()}
    assert final == {"a": "A2", "b": "B"}
