"""Batch replay plan — the flagship query (SURVEY.md §7.1 M1).

Reads an entire binlog event log as one DataFrame and produces the final
table state: the reference's end-to-end correctness check ("replay a known
binlog, compare final store state") as a single Spark job. The same
collapse kernel powers the streaming apply job; batch replay is also the
initial-snapshot path (CHANGES.txt:139) since snapshot INSERTs are just
events at gtid 0.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql_time_machine_spark.config import EngineConfig
from mysql_time_machine_spark.operators.reassemble import (
    collapse_events_sorted,
    collapse_events_sql,
    materialize,
)


def event_filter(cfg: EngineConfig) -> Column | None:
    """F1 table-regex gate (CHANGES.txt:41-42) + S4 end-binlog-file bound
    (CHANGES.txt:129) as one row predicate; None when neither is set."""
    keep = None
    if cfg.end_log_file:
        keep = F.col("log_file") <= cfg.end_log_file
    if cfg.table_regex and cfg.table_regex != ".*":
        regex = F.col("repo").isNull() | F.col("repo").rlike(cfg.table_regex)
        keep = regex if keep is None else keep & regex
    return keep


def filter_events(events: DataFrame, cfg: EngineConfig) -> DataFrame:
    """``events`` where ``event_filter(cfg)`` holds. Catalyst pushes both
    bounds into the scan."""
    keep = event_filter(cfg)
    return events if keep is None else events.where(keep)


def replay_batch(
    events: DataFrame,
    business_columns: list[tuple[str, str]],
    cfg: EngineConfig | None = None,
    impl: str = "auto",
    keep_tombstones: bool = False,
) -> DataFrame:
    """events -> final table state (one row per surviving key).

    ``impl='auto'`` resolves to the pure-Catalyst kernel — big-batch
    replay is throughput-bound and it is the measured winner there
    (EngineConfig.collapse_impl documents the regime split); 'pandas' is
    an alias of 'sorted'."""
    cfg = cfg or EngineConfig()
    if impl == "auto":
        impl = cfg.collapse_impl
    impl = EngineConfig(collapse_impl=impl).resolved_collapse_impl("batch")
    ev = filter_events(events, cfg)
    if impl == "sql":
        # batch regime: AQE is available, so the join-prefilter shape drops
        # dead events before the cell explode at no exchange cost (the
        # streaming escalation keeps the aggregate-first default)
        collapsed = collapse_events_sql(ev, join_prefilter=True)
    else:
        collapsed = collapse_events_sorted(ev, n_buckets=cfg.shuffle_partitions * 2)
    out = materialize(collapsed, business_columns)
    if not keep_tombstones:
        out = out.where(F.col("row_status") != "D")
    return out
