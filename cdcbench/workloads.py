"""The three benchmark workloads: shape of the generated log and of the run.

Every size here is fixed per workload; only ``--seed`` (which rows, keys
and cells) and ``--seconds`` vary. The open loop publishes files for
``--seconds``; the closed loops size their backlog as
``rows_per_s * seconds`` (at ``--seconds 15``, three two-file micro-batches
for backfill-cow).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: sink write mode: 'cow' (copy-on-write) or 'mor' (merge-on-read)
    merge_strategy: str
    #: EngineConfig.buffer_transactions (the TxnPendingStore path)
    buffer_transactions: bool
    #: open loop: files published on a fixed schedule; closed loop: the
    #: whole timed backlog is published at once and drained
    open_loop: bool
    #: bootstrap snapshot size (INSERTs at gtid 0)
    n_keys: int
    #: rows per transaction, inclusive range
    txn_rows: tuple[int, int]
    p_insert: float
    p_delete: float
    #: row events per binlog file
    rows_per_file: int
    warmup_files: int
    max_files_per_trigger: int
    #: closed loop: backlog rows per requested second
    rows_per_s: int = 0
    #: open loop: seconds between two files
    file_interval_s: float = 0.0
    #: share of non-bootstrap row events on key 0 (partial content updates)
    hot_share: float = 0.0
    hot_content_len: int = 0
    #: keys 1..fat_keys carry fat content cells in the bootstrap; later
    #: events on them are partial updates of the narrow cells
    fat_keys: int = 0
    fat_content_len: int = 0
    #: ADD COLUMN DDLs spread over the timed part of the log
    ddls: int = 0
    #: UTC days the event timestamps span
    ts_days: float = 1.0
    #: table reads and as-of reads per run
    read_repeats: int = 8
    #: changelog reads per run
    changelog_reads: int = 8
    #: the first reads of each kind only warm up (read times fall over the
    #: first repeats as the JIT warms); the median of the rest is reported
    read_warmup: int = 4
    #: batch replay input: the bootstrap and this many leading log files
    #: (0: the whole log); the prefix must end at a transaction boundary
    replay_files: int = 0


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="backfill-cow",
            why=(
                "catch-up after an outage: a pre-written backlog drained closed-loop in 50000-event "
                "micro-batches into a copy-on-write table, so the engine's speed sets the pace"
            ),
            merge_strategy="cow",
            buffer_transactions=False,
            open_loop=False,
            n_keys=20_000,
            txn_rows=(1, 1),
            p_insert=0.15,
            p_delete=0.03,
            rows_per_file=25_000,
            warmup_files=2,
            max_files_per_trigger=2,
            rows_per_s=10_000,
            ts_days=3.5,
            # reads of this small table take about 0.15 s, so a median of
            # few of them moves with every pause of the host
            read_repeats=12,
            changelog_reads=12,
            read_warmup=3,
            replay_files=1,
        ),
        Workload(
            name="tail-mor",
            why=(
                "steady replication: small files on a fixed schedule into a merge-on-read "
                "table with straddling transactions and DDL, so per-epoch fixed costs set freshness"
            ),
            merge_strategy="mor",
            buffer_transactions=True,
            open_loop=True,
            n_keys=10_000,
            txn_rows=(1, 8),
            p_insert=0.10,
            p_delete=0.02,
            rows_per_file=200,
            warmup_files=10,
            max_files_per_trigger=32,
            file_interval_s=0.2,
            ddls=2,
            ts_days=1.5,
            read_repeats=2,
            read_warmup=1,
        ),
        Workload(
            name="hotkey-fat",
            why=(
                "one hot key with multi-KB partial updates and some fat rows, so the Arrow "
                "byte cap splits batches and the kernel carry and broadcast gate do real work"
            ),
            merge_strategy="cow",
            buffer_transactions=False,
            open_loop=False,
            n_keys=20_000,
            txn_rows=(1, 1),
            p_insert=0.10,
            p_delete=0.02,
            rows_per_file=20_000,
            warmup_files=2,
            max_files_per_trigger=2,
            rows_per_s=4_000,
            hot_share=0.6,
            hot_content_len=6_000,
            fat_keys=120,
            fat_content_len=300_000,
            ts_days=1.5,
        ),
    )
}
