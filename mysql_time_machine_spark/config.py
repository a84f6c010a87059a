"""Engine configuration.

Mirrors the reference replicator's yml configuration surface
(/root/reference/CHANGES.txt:86,88 — "Support for initial yml configuration
file format") as a plain dataclass: table filter regex (CHANGES.txt:41-42),
delta/changelog allowlist (CHANGES.txt:111,101), end-binlog-file bound
(CHANGES.txt:129), dry-run (CHANGES.txt:43), and our Spark-side knobs
(salt buckets, shuffle partitions, fault-injection epochs for the seeded
chaos-monkey tests, CHANGES.txt:126).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class EngineConfig:
    # --- what to replicate -------------------------------------------------
    #: only keys whose ``repo`` matches are replicated (CHANGES.txt:41-42)
    table_regex: str = ".*"
    #: repos that also get changelog (daily-changes) rows; None = all
    #: (CHANGES.txt:111,101 — delta-tables allowlist)
    delta_repos: list[str] | None = None
    #: stop consuming after this binlog file (CHANGES.txt:129 end-binlog-file)
    end_log_file: str | None = None

    # --- physical layout ---------------------------------------------------
    #: number of hash buckets the target table's data files are split into;
    #: an epoch's MERGE rewrites only the buckets its keys touch
    #: (copy-on-write at bucket granularity — Iceberg's model in miniature)
    target_buckets: int = 16
    #: shuffle partitions for the reassembly groupBy
    shuffle_partitions: int = 32

    # --- sink behaviour ----------------------------------------------------
    #: dry-run: run the full pipeline, skip all writes (CHANGES.txt:43)
    dry_run: bool = False
    #: write changelog (daily-changes analogue, CHANGES.txt:123,111,55)
    write_changelog: bool = True
    #: deterministic fault hook: epochs in this set raise just before the
    #: sink commit — the seeded chaos monkey (CHANGES.txt:126)
    fail_epochs: frozenset[int] = field(default_factory=frozenset)

    # --- streaming ---------------------------------------------------------
    max_files_per_trigger: int = 4
    #: collapse kernel: 'auto' (DEFAULT — measured regime split: the
    #: streaming job picks 'sorted', batch replay picks 'sql'), or pin
    #: 'sql' / 'sorted'. 'pandas' is kept as an alias of 'sorted' (the
    #: former grouped-map kernel's name). The measured basis (BENCH):
    #: big-batch replay is throughput-bound — 'sql' (pure Catalyst) wins
    #: (186 K ev/s vs 125 K at sf0.1 x10; 3.15 M ev/s and 0.95 N->4N at
    #: x900), while per-micro-batch streaming is fixed-cost-bound —
    #: 'sorted' (Tungsten-sorted mapInPandas, one linear pandas pass with a
    #: bounded carry, the smallest per-batch plan) runs the same stream in
    #: 5-7 s vs sql's 14 s and still scales 0.84 N->4N. Both kernels are
    #: bit-identical by parity + property tests.
    collapse_impl: str = "auto"
    #: 'auto' streaming regime escalation: a micro-batch holding at least
    #: this many ROW events is throughput-bound, not fixed-cost-bound, so
    #: the job upgrades it from 'sorted' to the 'sql' kernel. The two
    #: kernels differ structurally in SHUFFLE VOLUME: 'sorted' repartitions
    #: every raw event (full-data exchange), while 'sql' partially
    #: aggregates map-side so only ~keys x cells cross the wire — at 31.5M
    #: events/batch the full-data exchange was measured as a ~150 s/epoch
    #: parallelism-independent term (BENCH/STREAM_SCALING_r6.md) that
    #: capped streaming N->4N efficiency at 0.36 while the sql kernel
    #: gates 0.993. Below the threshold 'sorted' keeps its measured win
    #: (smallest per-batch plan; sql's plan/codegen fixed cost dominates
    #: small batches). Pinning collapse_impl explicitly disables the
    #: escalation.
    big_batch_rows: int = 2_000_000

    def resolved_collapse_impl(self, regime: str) -> str:
        """'auto' -> the measured best kernel for the regime
        ('streaming' -> sorted, 'batch' -> sql); explicit settings win,
        with 'pandas' an alias of 'sorted'. Unknown names raise (a typo
        like 'sortd' must not silently fall through a dispatch chain)."""
        if self.collapse_impl == "auto":
            return "sorted" if regime == "streaming" else "sql"
        if self.collapse_impl not in ("sql", "sorted", "pandas"):
            raise ValueError(
                f"unknown collapse_impl {self.collapse_impl!r}; "
                "expected 'auto', 'sql', 'sorted', or 'pandas'"
            )
        return "sorted" if self.collapse_impl == "pandas" else self.collapse_impl

    #: wire format of the binlog event files: 'parquet' (default, columnar)
    #: or 'json' (one AugmentedRow object per line, CHANGES.txt:87)
    binlog_format: str = "parquet"
    #: v2 cross-batch transaction reassembly: set when the binlog files may
    #: split transactions; with txn-atomic files (MySQL rotation semantics)
    #: the buffer is unnecessary. Backed by the JVM pending store
    #: (streaming/txn_store.py): a broadcast/isin routing on the open-txn
    #: id set + a fenced epoch-keyed parquet store for boundary-straddling
    #: fragments, zero Python on the event path.
    buffer_transactions: bool = False
    #: event-time bound after which a BEGIN-without-COMMIT transaction's
    #: buffered state is evicted (the clear-on-rotate analogue,
    #: CHANGES.txt:112). None = keep state forever (v1 behavior). Only
    #: meaningful with buffer_transactions.
    txn_abandon_timeout: str | None = None
