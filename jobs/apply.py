"""spark-submit entrypoint for the streaming CDC apply job.

Usage (north rule: runs via spark-submit --py-files at N and 4N executors):

    spark-submit --py-files engine.zip jobs/apply.py \
        --binlog-dir /data/binlog --sink-root /lake/repos \
        [--master local[8]] [--table-regex '.*'] [--end-log-file binlog.000007]
        [--dry-run] [--no-changelog] [--buckets 16] [--shuffle-partitions 32]
        [--max-files-per-trigger 4] [--fail-epochs 2,5]
        [--binlog-format parquet|json] [--buffer-transactions]
        [--txn-abandon-timeout '2 hours'] [--timeout-sec 3600]
        [--collapse-impl auto|sql|sorted|pandas] [--merge-strategy cow|mor]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# plain `python jobs/apply.py` puts jobs/ (not the repo root) on sys.path;
# spark-submit ships the package via --py-files. Support both.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--binlog-dir", required=True)
    p.add_argument("--sink-root", required=True)
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--master", default=None)
    p.add_argument("--table-regex", default=".*")
    p.add_argument("--end-log-file", default=None)
    p.add_argument("--dry-run", action="store_true")
    p.add_argument("--no-changelog", action="store_true")
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--shuffle-partitions", type=int, default=32)
    p.add_argument("--max-files-per-trigger", type=int, default=4)
    p.add_argument("--fail-epochs", default="", help="comma-sep epoch ids for chaos injection")
    p.add_argument("--binlog-format", default="parquet", choices=("parquet", "json"))
    p.add_argument("--buffer-transactions", action="store_true",
                   help="cross-batch uuidBuffer (files may split transactions): "
                        "the JVM pending store, zero Python on the event path")
    p.add_argument("--txn-abandon-timeout", default=None,
                   help="event-time bound evicting BEGIN-without-COMMIT state, e.g. '2 hours'")
    p.add_argument("--timeout-sec", type=float, default=3600,
                   help="bound for the AvailableNow drain; raises TimeoutError (checkpoint "
                        "stays consistent; re-run resumes) instead of silently truncating")
    p.add_argument("--collapse-impl", default="auto",
                   choices=("auto", "sql", "sorted", "pandas"),
                   help="collapse kernel; auto = sorted for small micro-batches, "
                        "sql (aggregate-first) past EngineConfig.big_batch_rows; "
                        "pandas = alias of sorted")
    p.add_argument("--merge-strategy", default="cow", choices=("cow", "mor"),
                   help="sink write strategy: copy-on-write rewrites touched "
                        "buckets per epoch; merge-on-read appends per-epoch "
                        "delta files (bytes/epoch tracks the batch, not the "
                        "table) resolved at read and folded by compaction")
    args = p.parse_args(argv)

    from mysql_time_machine_spark.config import EngineConfig
    from mysql_time_machine_spark.session import get_spark
    from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink
    from mysql_time_machine_spark.streaming.job import ApplyJob

    spark = get_spark("mtm-apply", master=args.master, shuffle_partitions=args.shuffle_partitions)
    cfg = EngineConfig(
        table_regex=args.table_regex,
        end_log_file=args.end_log_file,
        dry_run=args.dry_run,
        write_changelog=not args.no_changelog,
        target_buckets=args.buckets,
        shuffle_partitions=args.shuffle_partitions,
        max_files_per_trigger=args.max_files_per_trigger,
        fail_epochs=frozenset(int(x) for x in args.fail_epochs.split(",") if x),
        binlog_format=args.binlog_format,
        buffer_transactions=args.buffer_transactions,
        txn_abandon_timeout=args.txn_abandon_timeout,
        collapse_impl=args.collapse_impl,
    )
    sink = ManifestParquetSink(
        spark, args.sink_root, n_buckets=args.buckets, merge_strategy=args.merge_strategy
    )
    job = ApplyJob(spark, args.binlog_dir, sink, cfg, checkpoint_dir=args.checkpoint)

    t0 = time.time()
    job.run_available(timeout_sec=args.timeout_sec)
    wall = time.time() - t0

    m = sink.current_manifest()
    consumed = sum(
        s["lineage"].get("events_consumed", {}).get("ROW", 0) for s in sink.snapshots()[1:]
    )
    print(
        json.dumps(
            {
                "wall_sec": round(wall, 2),
                "epochs": m["epoch_id"] + 1,
                "snapshot_id": m["snapshot_id"],
                "max_gtid_seq": m["max_gtid_seq"],
                "row_events_applied": consumed,
                "events_per_sec": round(consumed / wall, 1) if wall > 0 else None,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
