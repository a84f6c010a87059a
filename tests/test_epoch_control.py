"""One control job per epoch: the pending store's control aggregate also
yields the epoch stats and the DDL events, and the merge-on-read write
takes its lineage counts from an Observation. These tests pin that the
fused passes change no output, and count the actions an epoch issues."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from mysql_time_machine_spark.config import EngineConfig
from mysql_time_machine_spark.functions.core import classify_event, salted_shuffle_key
from mysql_time_machine_spark.plans.replay import filter_events
from mysql_time_machine_spark.schema import EVENT_SCHEMA
from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink
from mysql_time_machine_spark.streaming import txn_store
from mysql_time_machine_spark.streaming.job import ApplyJob

T0 = pd.Timestamp("2024-01-01")
D2 = T0 + pd.Timedelta(days=2)
ROTATE_TS = pd.Timestamp("1970-01-01")
LOG1, LOG2 = "binlog.000001", "binlog.000002"


def _ms(ts: pd.Timestamp) -> int:
    return int(ts.value // 1_000_000)


class _Log:
    def __init__(self):
        self.rows: list[dict] = []

    def ev(self, epoch, op, g, txn, ts, repo=None, path=None, after=None, ddl=None,
           log_file=LOG1):
        self.rows.append(dict(
            log_file=log_file, log_pos=len(self.rows) + 4, gtid=None if g is None else f"u:{g}",
            gtid_seq=g, txn_id=txn, seq_in_txn=len(self.rows), server_id=1, ts=ts, op=op,
            schema_version=1, repo=repo, path=path, before=None, after=after, ddl=ddl,
            epoch=epoch,
        ))

    def txn(self, epoch, txn, g, ts, rows, begin=True, commit=True, log_file=LOG1):
        if begin:
            self.ev(epoch, "BEGIN", g, txn, ts, ddl="BEGIN", log_file=log_file)
        for op, repo, path, after in rows:
            self.ev(epoch, op, g, txn, ts, repo, path, after, log_file=log_file)
        if commit:
            self.ev(epoch, "COMMIT", g, txn, ts, ddl="COMMIT", log_file=log_file)


def _img(content):
    return {"commit": "c0", "lang": "py", "content": content}


def _fixture() -> pd.DataFrame:
    """Four micro-batches. Repo ``x`` fails the table regex; binlog.000002
    lies past end_log_file; the abandon timeout is one hour.

    0: ROTATE + a bootstrap row (control events), committed txn 1 (one row
       filtered), txn 2 and txn 3 open.
    1: txn 2 commits (released whole, with its parked row), a DDL, txn 4
       two days later (evicts txn 3), txn 8 opens with a filtered row.
    2: txn 3's late row + COMMIT (dropped: grace set), txn 8 commits, txn 5
       (filtered row only), a DDL: no ROW event survives the filters.
    3: txn 6 deletes ``a``; txn 7 and a ROTATE in binlog.000002."""
    log = _Log()
    s = pd.Timedelta(seconds=1)
    log.ev(0, "ROTATE", None, -1, ROTATE_TS)
    log.ev(0, "I", 0, -1, T0, "o", "s0", _img("S0"))
    log.txn(0, 1, 10, T0 + 10 * s, [("I", "o", "a", _img("A")), ("I", "x", "xa", _img("XA"))])
    log.txn(0, 2, 20, T0 + 20 * s, [("U", "o", "a", {"content": "A2"})], commit=False)
    log.txn(0, 3, 30, T0 + 30 * s, [("I", "o", "z", _img("Z"))], commit=False)
    log.txn(1, 2, 20, T0 + 40 * s, [("I", "o", "b", _img("B"))], begin=False)
    log.ev(1, "DDL", 45, -1, T0 + 45 * s, ddl="ALTER TABLE repos ADD COLUMN extra varchar(64)")
    log.txn(1, 4, 50, D2, [("U", "o", "s0", {"content": "S1"})])
    log.txn(1, 8, 60, D2 + 10 * s, [("I", "x", "d", _img("D"))], commit=False)
    log.txn(2, 3, 30, D2 + pd.Timedelta(hours=1), [("U", "o", "z", {"content": "late"})],
            begin=False)
    log.txn(2, 8, 60, D2 + 20 * s, [], begin=False)
    log.txn(2, 5, 65, D2 + 30 * s, [("I", "x", "xb", _img("XB"))])
    log.ev(2, "DDL", 70, -1, D2 + 40 * s, ddl="ALTER TABLE repos ADD COLUMN extra2 varchar(64)")
    log.txn(3, 6, 80, D2 + 50 * s, [("D", "o", "a", None)])
    log.txn(3, 7, 90, D2 + 60 * s, [("I", "o", "c", _img("C"))], log_file=LOG2)
    log.ev(3, "ROTATE", None, -1, ROTATE_TS, log_file=LOG2)
    return pd.DataFrame(log.rows)


#: the pending store's meta and parked (txn_id, path) rows after each epoch
EXPECTED_META = [
    {"epoch": 0, "hwm_ms": _ms(T0 + pd.Timedelta(seconds=30))},
    {"epoch": 1, "hwm_ms": _ms(D2 + pd.Timedelta(seconds=10)),
     "evicted": {"3": _ms(D2 + pd.Timedelta(seconds=10))}},
    {"epoch": 2, "hwm_ms": _ms(D2 + pd.Timedelta(seconds=30))},
    {"epoch": 3, "hwm_ms": _ms(D2 + pd.Timedelta(seconds=60))},
]
EXPECTED_PARKED = [[(2, "a"), (3, "z")], [(8, "d")], [], []]
EXPECTED_CONSUMED = [{"ROTATE": 1, "ROW": 2}, {"ROW": 3, "DDL": 1}, {"DDL": 1}, {"ROW": 1}]


def _batches(spark, tmpdir: str, df: pd.DataFrame) -> list:
    out = []
    for e in sorted(df["epoch"].unique()):
        path = os.path.join(tmpdir, f"epoch-{e}")
        spark.createDataFrame(df[df["epoch"] == e].drop(columns=["epoch"]), schema=EVENT_SCHEMA) \
            .coalesce(1).write.parquet(path)
        out.append(spark.read.schema(EVENT_SCHEMA).parquet(path))
    return out


def _class_stats(df, cfg):
    """The oracle: per-class counts and the delay basis of the filtered,
    classified events, the way a separate stats pass computes them."""
    rows = (
        filter_events(df, cfg).withColumn("_class", classify_event())
        .groupBy("_class")
        .agg(F.count("*").alias("n"),
             F.max(F.when(F.col("_class") != "ROTATE", F.col("ts"))).alias("max_ts"))
        .collect()
    )
    return (
        {r["_class"]: r["n"] for r in rows},
        str(max((r["max_ts"] for r in rows if r["max_ts"] is not None), default="")),
    )


def _bucket_stats(collapsed, n_buckets):
    rows = (
        collapsed.withColumn("_bucket", salted_shuffle_key(n_buckets))
        .groupBy("_bucket")
        .agg(*[F.count_if(F.col("row_status") == s).alias(f"n_{s}") for s in "IUD"],
             F.max("gtid_seq").alias("g"))
        .collect()
    )
    per_bucket = {str(r["_bucket"]): {f"n_{s}": r[f"n_{s}"] for s in "IUD"} for r in rows}
    return per_bucket, max((r["g"] for r in rows if r["g"] is not None), default=None)


@pytest.mark.parametrize("strategy,control_cap", [("cow", None), ("mor", 1)])
def test_fused_control_pass_changes_no_output(
    spark, tmp_path_factory, monkeypatch, strategy, control_cap
):
    """Straddlers, a DDL, an abandoned transaction (grace set and
    drop-whole), a table regex, an end_log_file and (with CONTROL_CAP=1)
    the spill path: every epoch's stats equal a separate groupBy over the
    released, filtered rows, lineage equals a separate per-bucket
    aggregate over the collapsed batch, and the store's meta and parked
    rows are the ones a separate control pass produced."""
    if control_cap is not None:
        monkeypatch.setattr(txn_store, "CONTROL_CAP", control_cap)
    tmpdir = str(tmp_path_factory.mktemp(f"fused_{strategy}"))
    cfg = EngineConfig(
        shuffle_partitions=4, buffer_transactions=True, txn_abandon_timeout="1 hour",
        write_changelog=False, table_regex="^o$", end_log_file=LOG1,
    )
    sink = ManifestParquetSink(spark, os.path.join(tmpdir, "sink"), n_buckets=4,
                               merge_strategy=strategy)
    job = ApplyJob(spark, os.path.join(tmpdir, "binlog"), sink, cfg,
                   checkpoint_dir=os.path.join(tmpdir, "ckpt"))

    oracle: dict = {}
    resolve, merge = txn_store.TxnPendingStore.resolve, ManifestParquetSink.merge

    def resolve_spy(store, batch, epoch_id, keep=None):
        out, stats = resolve(store, batch, epoch_id, keep)
        oracle["stats"] = _class_stats(out, cfg)
        return out, stats

    def merge_spy(snk, collapsed, epoch_id, lineage=None, changelog=None):
        oracle["buckets"] = _bucket_stats(collapsed, snk.n_buckets)
        return merge(snk, collapsed, epoch_id, lineage=lineage, changelog=changelog)

    monkeypatch.setattr(txn_store.TxnPendingStore, "resolve", resolve_spy)
    monkeypatch.setattr(ManifestParquetSink, "merge", merge_spy)

    for e, batch in enumerate(_batches(spark, tmpdir, _fixture())):
        prev_max = sink.current_manifest()["max_gtid_seq"]
        job.process_batch(batch, e)
        consumed, delay = oracle["stats"]
        assert consumed == EXPECTED_CONSUMED[e]
        assert job.metrics[-1]["events_consumed"] == consumed
        assert job.metrics[-1]["delay_basis_ts"] == delay

        m = sink.current_manifest()
        per_bucket, g = oracle["buckets"]
        lin = m["lineage"]
        assert lin["per_bucket"] == per_bucket
        for s in "IUD":
            assert lin[f"n_{s}"] == sum(c[f"n_{s}"] for c in per_bucket.values())
        assert m["max_gtid_seq"] == (prev_max if g is None else max(g, prev_max))
        if e == 2:  # no ROW event survives the filters, but a DDL does
            assert per_bucket == {} and lin["n_I"] == lin["n_U"] == lin["n_D"] == 0
            assert m["max_gtid_seq"] == prev_max
            assert ["extra2", "string"] in m["business_columns"]

        with open(os.path.join(job.txn_store.root, f"meta-{e:09d}.json")) as fh:
            assert json.load(fh) == EXPECTED_META[e]
        parked = job.txn_store.pending_fragments(spark, epoch=e).collect()
        assert sorted((r["txn_id"], r["path"]) for r in parked) == EXPECTED_PARKED[e]

    assert sorted(r["path"] for r in sink.read().collect()) == ["b", "s0"]


def _count_actions(monkeypatch) -> list[str]:
    """Record every Spark action issued from Python: collects (head and
    take go through collect), counts, and parquet/save writes."""
    calls: list[str] = []

    def spy(cls, name):
        orig = getattr(cls, name)

        def wrapper(*a, **kw):
            calls.append(name)
            return orig(*a, **kw)

        monkeypatch.setattr(cls, name, wrapper)

    for name in ("collect", "count", "isEmpty", "toPandas"):
        spy(DataFrame, name)
    for name in ("parquet", "save"):
        spy(DataFrameWriter, name)
    return calls


@pytest.mark.parametrize(
    "strategy,buffered,straddler_and_ddl,expected",
    [("mor", True, True, 4), ("cow", False, False, 4)],
)
def test_actions_per_epoch(
    spark, tmp_path_factory, monkeypatch, strategy, buffered, straddler_and_ddl, expected
):
    """A merge-on-read epoch with a straddler and a DDL issues 4 actions:
    the control aggregate, the snapshot write, the delta write and the
    changelog write — no stats, DDL or merge-stats collect of its own. An
    unbuffered copy-on-write epoch issues the stats aggregate, the merge
    stats collect, the rewrite and the changelog."""
    log = _Log()
    log.txn(0, 1, 10, T0, [("I", "o", "a", _img("A"))])
    if straddler_and_ddl:
        log.ev(0, "DDL", 15, -1, T0, ddl="ALTER TABLE repos ADD COLUMN extra varchar(64)")
        log.txn(0, 2, 20, T0, [("I", "o", "b", _img("B"))], commit=False)
    tmpdir = str(tmp_path_factory.mktemp(f"actions_{strategy}"))
    (batch,) = _batches(spark, tmpdir, pd.DataFrame(log.rows))
    cfg = EngineConfig(shuffle_partitions=4, buffer_transactions=buffered)
    sink = ManifestParquetSink(spark, os.path.join(tmpdir, "sink"), n_buckets=4,
                               merge_strategy=strategy)
    job = ApplyJob(spark, os.path.join(tmpdir, "binlog"), sink, cfg,
                   checkpoint_dir=os.path.join(tmpdir, "ckpt"))
    calls = _count_actions(monkeypatch)
    job.process_batch(batch, 0)
    monkeypatch.undo()
    assert len(calls) == expected, calls
    assert sink.current_manifest()["lineage"]["n_I"] == 1
