"""The streaming apply job — the replicator's core path (SURVEY.md §3.1).

readStream over the simulated binlog directory -> per-micro-batch:

  1. ONE control job: with ``buffer_transactions``, the uuidBuffer — the
     JVM pending store releases committed transactions whole, parks
     fragments that straddle a micro-batch boundary
     (streaming/txn_store.py), and its control aggregate also returns the
     epoch stats; without it, one global stats aggregate. Either way the
     stats are per-class counts, the delay basis and the DDL events of
     the classified, filtered batch (P1/F1/S4, A3/A5)
  2. classify + filter the released rows (P1/F1/S4) for the consumers
  3. the DDL events from step 1 -> active-schema registry (driver-side,
     tiny) -> target schema evolution (J0 / CHANGES.txt:117,57,44-46)
  4. live-event pre-reduction + last-writer-wins collapse: the sorted
     mapInPandas kernel, or the pure-Catalyst kernel for big batches
     (A1/A2, uuidBuffer analogue CHANGES.txt:168-170)
  5. fenced MERGE + changelog + lineage in ONE atomic sink commit
     (J1/J2/A4/A6; exactly-once per CHANGES.txt:3-7,37,113-116)

Thread/process boundaries vs the reference (SURVEY.md §3.1): the
producer/orchestrator/applier thread pools all collapse into Spark's
driver/executor split; the bounded in-memory queue becomes
maxFilesPerTrigger backpressure; applier task retry/requeue
(CHANGES.txt:63) is Spark task retry.

Why foreachBatch and not a stateful operator: binlog order is total per
server — there is no late data (SURVEY §2.8 ST2) — so the only state that
crosses micro-batches is small and replayable. Transactions cut by a file
boundary sit in the pending store, an epoch-keyed snapshot that a
replayed epoch rewrites identically; the active schema is driver-side and
manifest-persisted; the sink's epoch fence, not operator state, carries
exactly-once across restarts.
"""

from __future__ import annotations

import contextlib
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextlib.contextmanager
def _phase(spark: SparkSession, name: str):
    """Label every Spark job this thread launches until exit as ``mtm:<name>``.

    Pure observability: the label shows in the Spark UI and event log, so
    per-phase wall time is attributable (cdcbench's traced run reads it as
    ``job.phase.<name>_s``). Thread-local in the JVM — concurrent streams
    don't cross-label."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    try:
        sc.setJobDescription(f"mtm:{name}")
        yield
    finally:
        sc.setJobDescription(prev)

from mysql_time_machine_spark.config import EngineConfig
from mysql_time_machine_spark.functions.core import classify_event, daily_bucket_utc
from mysql_time_machine_spark.plans.replay import event_filter, filter_events
from mysql_time_machine_spark.registry import SchemaRegistry
from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink
from mysql_time_machine_spark.streaming.txn_store import (
    EVENT_CLASSES,
    PENDING_FORMAT_VERSION,
    TxnPendingStore,
    ddl_event,
    epoch_stats,
)


#: columns any post-classification consumer of the micro-batch cache can
#: read: the changelog branch (position + day columns) and the collapse
#: kernels (key, op, `after`, order columns). `before`, `ddl`, the gtid
#: STRING, and the txn/server ids are consumed only upstream
#: (classification / the stats aggregate / txn resolve) and are
#: deliberately absent — see the persist() site.
_EPOCH_CACHE_COLUMNS = frozenset(
    [
        "_class", "repo", "path", "op", "after", "ts", "schema_version",
        "gtid_seq", "log_file", "log_pos", "seq_in_txn",
    ]
)


class ApplyJob:
    def __init__(
        self,
        spark: SparkSession,
        binlog_dir: str,
        sink: ManifestParquetSink,
        cfg: EngineConfig | None = None,
        checkpoint_dir: str | None = None,
    ):
        self.spark = spark
        self.binlog_dir = binlog_dir
        self.sink = sink
        self.cfg = cfg or EngineConfig()
        self.checkpoint_dir = checkpoint_dir or os.path.join(sink.root, "_checkpoint")
        self.txn_store = None
        if self.cfg.buffer_transactions:
            # key the checkpoint by the pending-store format version: a
            # binary with a bumped version starts a FRESH checkpoint instead
            # of silently resuming incompatible state (offsets replay; the
            # sink fence makes that idempotent)
            self.checkpoint_dir = os.path.join(
                self.checkpoint_dir, f"txn_jvm_v{PENDING_FORMAT_VERSION}"
            )
            self.txn_store = TxnPendingStore(
                self.checkpoint_dir + "_pending",
                abandon_timeout=self.cfg.txn_abandon_timeout,
            )
        # active schema reloaded from the last committed manifest — schema
        # history survives crashes with the data it describes
        self.registry = SchemaRegistry.from_manifest(sink.current_manifest().get("registry", []))
        self.metrics: list[dict[str, Any]] = []

    # -- per-micro-batch body -------------------------------------------------
    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        cfg = self.cfg
        # (A3/A5) the epoch stats — consumed counts by class, the max
        # replication delay basis, the DDL events — come from ONE narrow
        # aggregate: the pending store's control job when it runs, else a
        # global aggregate over the filtered batch. It doubles as the
        # empty-batch probe: an empty micro-batch (e.g. every row parked by
        # the txn buffer) counts zero events and commits nothing. The
        # aggregate reads ONLY narrow columns — the fat-row guard is the
        # session-wide arrow.maxBytesPerBatch byte cap (session.py), which
        # the JVM Arrow writers enforce directly on every Python-kernel
        # transfer.
        if self.txn_store is not None:
            # jvm txn buffering: release committed transactions (merging in
            # fragments left pending by earlier epochs), park straddlers
            with _phase(self.spark, "txn-resolve"):
                batch, stats = self.txn_store.resolve(
                    batch, epoch_id, keep=event_filter(cfg)
                )
        batch = filter_events(batch, cfg).withColumn("_class", classify_event())
        if self.txn_store is None:
            with _phase(self.spark, "stats-agg"):
                stats = batch.agg(
                    *epoch_stats(F.lit(True)),
                    F.sort_array(F.collect_list(ddl_event(F.lit(True)))).alias("ddls"),
                ).head()
        events_consumed = {
            c: stats[f"n_{c}"] for c in EVENT_CLASSES if stats[f"n_{c}"]
        }
        if not events_consumed:
            # empty micro-batch: don't burn a snapshot commit
            return
        persisted = False
        try:
            impl = cfg.resolved_collapse_impl("streaming")
            if (
                cfg.collapse_impl == "auto"
                and events_consumed.get("ROW", 0) >= cfg.big_batch_rows
            ):
                # big-batch escalation (see EngineConfig.big_batch_rows):
                # this micro-batch is throughput-bound — the sql kernel's
                # map-side combine shrinks the exchange to ~keys x cells,
                # where the sorted kernel would shuffle every raw event
                impl = "sql"
            elif cfg.write_changelog and not cfg.dry_run:
                # small-batch regime WITH a second consumer (the changelog
                # branch beside the collapse): the re-scan wins from a
                # cache, filled by whichever consumer runs first. A BIG
                # batch must NOT be materialized — caching 10s of
                # millions of rows to re-read them twice costs more than
                # the column-pruned parquet re-scans it saves, and the
                # cache build is an IO term that does not shrink with
                # cores (measured: BENCH/STREAM_SCALING_r6.md). A
                # single-consumer epoch skips the cache too: building it
                # would serve exactly one read, strictly worse than the
                # collapse's own pruned scan.
                # Prune the cache INPUT to the union of the remaining
                # consumers' columns first: after classification nothing
                # reads `before` (half the map payload), `ddl`, the gtid
                # string, or the txn/server ids — caching them pays scan +
                # serialization + storage for columns no consumer touches.
                batch = batch.select(
                    *[c for c in batch.columns if c in _EPOCH_CACHE_COLUMNS]
                )
                batch.persist()
                persisted = True

            # (J0) DDL -> active schema; driver-side control flow, tiny —
            # the DDL events arrived sorted with the stats
            for r in stats["ddls"]:
                self.registry.apply_ddl(r["ddl"], r["gtid_seq"])
            # always pin the sink's target schema to the active schema —
            # idempotent, and correct whether this epoch is fresh, replayed,
            # or resumed mid-stream after a crash
            self.sink.evolve_schema(
                self.registry.current_columns, registry=self.registry.versions
            )

            rows = batch.where(F.col("_class") == "ROW").drop("_class")

            # (A6) changelog branch: every change event, UTC-day bucketed,
            # gated by the delta-repos allowlist (CHANGES.txt:111,101)
            changelog = None
            if cfg.write_changelog and not cfg.dry_run:
                cl = rows
                if cfg.delta_repos is not None:
                    cl = cl.where(F.col("repo").isin(cfg.delta_repos))
                changelog = cl.select(
                    "repo", "path", "op", "gtid_seq", "log_file", "log_pos",
                    "ts", "schema_version",
                    daily_bucket_utc("ts").alias("day_utc"),
                )

            # (A1/A2) reassemble + collapse. 'auto' resolves to the sorted
            # kernel here: micro-batches are fixed-cost-bound and it runs
            # the smallest per-batch plan (see EngineConfig.collapse_impl
            # for the measured basis).
            # micro-batch AQE is off, so the live_events reset join would
            # plan a full-data SortMergeJoin; the stats aggregate proved the
            # batch (hence its distinct-key side) is bounded, so hint the
            # key-sized side as a broadcast
            bounded = events_consumed.get("ROW", 0) < cfg.big_batch_rows
            if impl == "sql":
                from mysql_time_machine_spark.operators.reassemble import collapse_events_sql

                collapsed = collapse_events_sql(rows)
            else:
                from mysql_time_machine_spark.operators.reassemble import collapse_events_sorted

                collapsed = collapse_events_sorted(
                    rows, n_buckets=cfg.shuffle_partitions, broadcast_reset=bounded
                )

            # deterministic chaos monkey (seeded analogue of CHANGES.txt:126):
            # fail the FIRST attempt of each configured epoch, just before
            # the sink commit; a marker file makes the retry/resume succeed
            if epoch_id in cfg.fail_epochs:
                marker = os.path.join(self.sink.root, "_chaos", f"epoch-{epoch_id}")
                if not os.path.exists(marker):
                    os.makedirs(marker, exist_ok=True)
                    raise RuntimeError(f"chaos-monkey: injected failure at epoch {epoch_id}")

            lineage = {
                "events_consumed": events_consumed,
                "delay_basis_ts": "" if stats["max_ts"] is None else str(stats["max_ts"]),
            }
            if cfg.dry_run:
                with _phase(self.spark, "collapse-dryrun"):
                    collapsed.count()  # force the plan, no writes (S8)
                self.metrics.append({"epoch_id": epoch_id, **lineage, "dry_run": True})
                return
            with _phase(self.spark, "collapse+merge"):
                committed = self.sink.merge(
                    collapsed, epoch_id, lineage=lineage, changelog=changelog
                )
            self.metrics.append({"epoch_id": epoch_id, **lineage, "committed": committed})
        finally:
            if persisted:
                batch.unpersist()

    # -- wiring -----------------------------------------------------------------
    def stream(self) -> DataFrame:
        from mysql_time_machine_spark.sources.binlog import binlog_stream

        return binlog_stream(
            self.spark,
            self.binlog_dir,
            fmt=self.cfg.binlog_format,
            max_files_per_trigger=self.cfg.max_files_per_trigger,
        )

    def run_available(self, timeout_sec: float = 600) -> None:
        """Consume everything currently in the binlog dir, then stop —
        the end-binlog-file / snapshot-replay mode (CHANGES.txt:129,139).

        Raises TimeoutError if ``timeout_sec`` elapses before the
        AvailableNow query drains the directory: a truncated run is NOT a
        completed one, and silently returning would hand the caller a
        half-consumed log. State stays consistent either way — offsets are
        checkpointed per micro-batch and the sink's epoch fence makes a
        re-run (which resumes from the checkpoint) converge."""
        q = (
            self.stream()
            .writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = q.awaitTermination(timeout_sec)
        finally:
            q.stop()
        if not finished:
            raise TimeoutError(
                f"run_available: binlog not drained within {timeout_sec}s "
                "(checkpoint is consistent; re-run to resume from it)"
            )
