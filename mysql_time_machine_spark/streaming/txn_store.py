"""JVM-side cross-batch transaction reassembly — the uuidBuffer as a
fenced pending-fragment store (the ``buffer_transactions`` path).

The reference buffers events per transaction uuid and releases them at
COMMIT (/root/reference/CHANGES.txt:168-170). An earlier design expressed
that with ``applyInPandasWithState`` keyed by txn_id and measured a 4.6x
wall overhead vs the unbuffered path; bucketed re-keying (batch-complete
txns vectorized inside the group call) barely moved it — a PURE
PASSTHROUGH ``applyInPandas`` over the same stream costs ~16 s per 1M
events at local[32], because every row's two ``map<string,string>``
payload columns are converted to Python dicts per row on the way into
pandas. The conversion floor, not the per-group call count, is the
scale-killer: ANY design that routes the full event stream through a
Python worker pays it.

So this operator routes NOTHING through Python. Inside ``foreachBatch``
(where the micro-batch is a plain DataFrame and arbitrary batch plans are
legal), the split a stateful operator could not express declaratively is one
narrow aggregate plus pushed-down filters, entirely JVM-side:

1. union the micro-batch with the (tiny) pending-fragment store left by
   the previous epoch;
2. ONE column-pruned job, the epoch's only control-plane action: a
   distributed ``groupBy(txn_id)`` partial aggregate (map-side combined;
   the exchange carries one narrow row per txn) over the transactions
   AND the control events (``txn_id = -1``, one group) finds each
   transaction's commit presence and last activity, and counts the
   events each group would release. The final fold hands the driver the
   event-time high-water mark, ONLY the open (straddling) transactions'
   ids — driver state is proportional to straddlers, never to the
   batch's txn count — and the epoch stats (per-class counts, delay
   basis, DDL events) summed over the released groups, so the apply job
   runs no stats or DDL pass of its own;
3. released rows = ``txn_id NOT IN open`` — in the overwhelmingly common
   case every transaction is batch-complete, ``open`` is EMPTY and the
   row events pass through UNTOUCHED (no filter, no join, no extra scan:
   the buffer costs nothing beyond the one control aggregate);
4. still-open fragments = ``txn_id IN open`` -> the new pending
   snapshot (a pushed-down parquet filter; past 10k open ids the routing
   switches to broadcast joins so the plan never embeds a huge id list).

Only boundary-straddling fragments are ever written, so the pending
store stays proportional to transactions cut by a micro-batch boundary
(a few per boundary at realistic binlog file sizes), never to the
stream.

CRASH CONSISTENCY — the store is epoch-keyed and replay-deterministic:
``resolve(batch, N)`` reads the newest snapshot with epoch < N and
OVERWRITES snapshot N. Structured Streaming replays at most the last
uncommitted micro-batch with identical source offsets, and snapshot N-1
is immutable while N runs, so a replayed epoch rewrites a byte-identical
snapshot N and re-releases the same rows — which the sink's epoch fence
then no-ops. Retention keeps ``keep_last`` snapshots so the previous
epoch's files are never deleted out from under the lazy plans that read
them.

ABANDONED TRANSACTIONS (BEGIN without COMMIT — a killed producer,
CHANGES.txt:112 clear-on-rotate): the store carries a high-water mark of
max event time seen (the watermark analogue, persisted in each
snapshot's meta so it survives restarts and replays deterministically).
With ``abandon_timeout`` set, open transactions whose last buffered
activity fell more than the timeout behind the high-water mark are
dropped from the new snapshot — the event-time bound a stateful
operator would enforce with ``GroupStateTimeout``, computed with one tiny
aggregate instead of armed timers.

EVICTED-THEN-COMMITTED (the pinned semantics): eviction drops a
transaction WHOLE — if its COMMIT (and any trailing fragments) arrive in
a LATER epoch, they are dropped too, never applied as a partial
transaction. Each snapshot's meta carries a small grace set ``evicted:
{txn_id: hwm_ms_at_eviction}``; rows and COMMITs of those ids are
discarded on arrival. A grace entry is retired when its COMMIT is seen
(binlog delivery is in-order per ST2 — nothing of a txn can follow its
own COMMIT) or when the high-water mark advances ``abandon_timeout``
past the eviction point. The set is capped at ``CONTROL_CAP`` entries
(meta is driver JSON); a commit arriving beyond both bounds, or for an
id pushed out by the cap, applies its trailing fragments partially —
size ``abandon_timeout`` above the producer's worst-case stall to keep
that corner unreachable.

DRIVER-STATE BOUNDS: the per-epoch control aggregate hands the driver at
most ``CONTROL_CAP`` open-transaction structs (the collect is sliced in
the plan, so the driver row is bounded even in the pathological batch
where most transactions are open — e.g. a log truncated mid-backlog).
Past the cap, the open set is SPILLED to a per-epoch parquet side file
and all routing switches to joins against it: the driver then holds no
ids at all, and the pending snapshot / release split runs as ordinary
distributed semi/anti joins.

FILESYSTEM: snapshot parquet is written/read by Spark (driver +
executors) while meta JSON is small driver-side control state on the
SAME root. Meta IO routes through ``fsio.MetaFS`` — direct ``os`` calls
for plain/file:// roots, the JVM Hadoop FileSystem API for any DFS
scheme (hdfs://, s3a://, ...) — so the store works wherever the
executors can write parquet, local mode and real clusters alike.
``fsio.py`` documents the object-store rename caveat.
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from mysql_time_machine_spark.fsio import MetaFS
from mysql_time_machine_spark.functions.core import classify_event
from mysql_time_machine_spark.schema import EVENT_SCHEMA

#: bump when the snapshot layout or semantics change — ApplyJob keys the
#: streaming checkpoint by this, so a new format starts a fresh
#: checkpoint (offsets replay; the sink fence absorbs it)
PENDING_FORMAT_VERSION = 1

#: ceiling on driver-held control state per epoch: open-txn structs
#: fetched by the resolve aggregate, and grace-set entries in meta.
#: Past it, the open set spills to a parquet side file and routing
#: switches to distributed joins (see module docstring).
CONTROL_CAP = 10_000

#: a pending snapshot holding fewer parked rows than this is written as
#: ONE file; a larger one (a bulk transaction cut by the batch boundary)
#: keeps the scan's write parallelism
SNAPSHOT_ONE_FILE_ROWS = 100_000

#: the classes classify_event() emits; the epoch stats count each one
EVENT_CLASSES = ("ROW", "BEGIN", "COMMIT", "DDL", "ROTATE", "OTHER")


def epoch_stats(keep: Column) -> list[Column]:
    """The epoch's event-level counters (A3/A5) as aggregate columns over
    the events where ``keep`` holds, classified in a ``_class`` column:
    one ``n_<class>`` count per EVENT_CLASSES entry and ``max_ts``, the
    replication-delay basis, which excludes ROTATE's ts=0
    (CHANGES.txt:58-61). All are fixed-width buffers, so a keyed
    aggregate over them stays a HashAggregate."""
    cls = F.col("_class")
    return [F.count_if(keep & (cls == c)).alias(f"n_{c}") for c in EVENT_CLASSES] + [
        F.max(F.when(keep & (cls != "ROTATE"), F.col("ts"))).alias("max_ts")
    ]


def ddl_event(keep: Column) -> Column:
    """A classified event as a (gtid_seq, log_file, log_pos, ddl) struct
    when it is a DDL where ``keep`` holds, else NULL; sorting the structs
    orders DDLs as the binlog applies them."""
    return F.when(
        keep & (F.col("_class") == "DDL"), F.struct("gtid_seq", "log_file", "log_pos", "ddl")
    )


class TxnPendingStore:
    """Epoch-keyed parquet store of boundary-straddling txn fragments."""

    def __init__(
        self,
        root: str,
        abandon_timeout: str | None = None,
        keep_last: int = 3,
        fs: MetaFS | None = None,
    ):
        self.root = root
        self.fs = fs or MetaFS(root)
        self.keep_last = max(2, keep_last)  # N-1 must survive while N runs
        self.timeout_ms = (
            None
            if abandon_timeout is None
            else int(pd.Timedelta(abandon_timeout).total_seconds() * 1000)
        )
        self.fs.makedirs(root)

    # -- snapshot plumbing ---------------------------------------------------
    def _meta_path(self, epoch: int) -> str:
        return os.path.join(self.root, f"meta-{epoch:09d}.json")

    def _snap_path(self, epoch: int) -> str:
        return os.path.join(self.root, f"snap-{epoch:09d}")

    def _epochs(self) -> list[int]:
        return sorted(
            int(fn[5:-5])
            for fn in self.fs.listdir(self.root)
            if fn.startswith("meta-") and fn.endswith(".json")
        )

    def _open_path(self, epoch: int) -> str:
        return os.path.join(self.root, f"open-{epoch:09d}")

    def _latest_before(self, epoch: int) -> tuple[int, dict] | None:
        """(epoch, meta) of the newest committed snapshot before ``epoch``
        — the previous micro-batch's pending state (replay-stable: a
        replayed epoch N never sees its own crashed half-written N)."""
        prior = [e for e in self._epochs() if e < epoch]
        if not prior:
            return None
        e = prior[-1]
        return e, json.loads(self.fs.read_text(self._meta_path(e)))

    def pending_fragments(self, spark: SparkSession, epoch: int | None = None) -> DataFrame:
        """The still-open fragments as of snapshot ``epoch`` (default:
        newest) — the observability surface tests assert eviction on."""
        epochs = self._epochs()
        if not epochs:
            return spark.createDataFrame([], EVENT_SCHEMA)
        e = epochs[-1] if epoch is None else epoch
        if not self.fs.isdir(self._snap_path(e)):  # committed-empty snapshot
            return spark.createDataFrame([], EVENT_SCHEMA)
        return spark.read.schema(EVENT_SCHEMA).parquet(self._snap_path(e))

    # -- the per-epoch resolution --------------------------------------------
    def resolve(
        self, batch: DataFrame, epoch_id: int, keep: Column | None = None
    ) -> tuple[DataFrame, Row]:
        """micro-batch -> (row events of COMMITTED transactions (whole, even
        when their fragments arrived epochs ago) + control events, the
        epoch stats of that output where ``keep`` holds); BEGIN/COMMIT
        markers are consumed; still-open fragments move to snapshot
        ``epoch_id``. Everything JVM-side — see module docstring.

        The stats row carries ``epoch_stats``' columns and ``ddls``, the
        sorted ``ddl_event`` structs, computed by the same job that finds
        the open transactions: the epoch needs no aggregate of its own over
        the released rows.

        Deliberately NOT cached: the micro-batch is a column-prunable
        parquet scan, and in-memory caching of the two map payload columns
        costs more than the extra scans it saves (measured ~2.5 s per 0.5M
        rows at local[32] vs ~0.3 s per full re-scan). The control
        aggregate reads narrow columns only; the payload is read by the
        snapshot write (straddlers only) and by the epoch's consumers of
        the released rows."""
        spark = batch.sparkSession
        cols = [f.name for f in EVENT_SCHEMA.fields]

        prev = self._latest_before(epoch_id)
        prev_hwm = 0
        pend_prev = None
        ev_prev: dict[int, int] = {}
        if prev is not None:
            prev_epoch, meta = prev
            prev_hwm = meta["hwm_ms"]
            ev_prev = {int(k): v for k, v in (meta.get("evicted") or {}).items()}
            if self.fs.isdir(self._snap_path(prev_epoch)):
                pend_prev = spark.read.schema(EVENT_SCHEMA).parquet(
                    self._snap_path(prev_epoch)
                )

        # evicted-then-committed drop-whole: anything of a grace-set txn is
        # discarded on arrival (its COMMIT retires the entry below). The
        # grace set is EMPTY in steady state — this branch costs nothing
        # unless an eviction actually happened within the window.
        ev_ids = sorted(ev_prev)
        not_evicted = ~F.col("txn_id").isin(ev_ids) if ev_ids else F.lit(True)
        is_ctrl = F.col("txn_id") == -1
        is_txn = F.col("txn_id") != -1  # false for a NULL id, like is_ctrl
        is_row = F.col("op").isin("I", "U", "D")
        if ev_ids:
            # retire grace entries whose COMMIT arrived (in-order delivery:
            # nothing of a txn can follow its own COMMIT) — tiny pruned
            # scan, only paid while the grace set is non-empty
            gone = [
                r["txn_id"]
                for r in batch.where(
                    (F.col("op") == "COMMIT") & F.col("txn_id").isin(ev_ids)
                )
                .select("txn_id")
                .distinct()
                .collect()
            ]
            for x in gone:
                ev_prev.pop(x, None)

        # ONE narrow, column-pruned control-plane job, FULLY distributed up
        # to the last reduction. groupBy(txn_id) runs over the transactions
        # AND the control events (txn_id = -1, one group) with map-side
        # partial aggregation (the exchange carries ~one row per txn). Per
        # group it computes commit presence, last activity, the row-event
        # count (it sizes the snapshot write) and the epoch stats of the
        # rows the group would release: a transaction releases its row
        # events only (its markers are consumed), the control group every
        # event. The final fold returns the event-time high-water mark
        # over transactions only (markers carry real ts; ROTATE's ts=0 sits
        # in the control group and never drags the hwm), the open count,
        # at most CONTROL_CAP open (id, last activity, rows) structs — the
        # slice runs in the plan, so the driver row is bounded even when
        # most transactions are open (log truncated mid-backlog) — and the
        # stats summed over the released groups (committed or control),
        # which are exact on the spill path too. The driver therefore
        # holds data proportional to boundary STRADDLERS, capped — never
        # to the micro-batch's transaction count (an earlier design
        # collected every txn id and paid ~40 s/epoch of serial py4j at
        # 315k txns/epoch, the dominant Amdahl term in
        # BENCH/STREAM_SCALING_r5 round-1 cells).
        keep = F.lit(True) if keep is None else keep
        src = batch.where(is_ctrl | (is_txn & not_evicted)).select(*cols)
        if pend_prev is not None:
            src = src.unionByName(pend_prev)  # never holds evicted ids
        per_txn = (
            src.withColumn("_class", classify_event())
            .withColumn("_keep", (is_ctrl | is_row) & keep)
            # each DDL event is a group key of its own inside the control
            # group (a transaction's rows never classify as DDL), so the
            # per-group buffers stay fixed-width and only the final fold
            # collects the (few) DDL structs
            .withColumn("_ddl", ddl_event(F.col("_keep")))
            .groupBy("txn_id", "_ddl")
            .agg(
                F.max((F.col("op") == "COMMIT").cast("int")).alias("_c"),
                F.max(F.unix_millis("ts")).alias("_ts"),
                F.count_if(is_row).alias("_n"),
                *epoch_stats(F.col("_keep")),
            )
        )
        is_open = is_txn & (F.col("_c") == 0)
        released = is_ctrl | (F.col("_c") == 1)
        agg = (
            per_txn.agg(
                F.max(F.when(is_txn, F.col("_ts"))).alias("hwm"),
                F.count_if(is_open).alias("n_open"),
                F.collect_list(
                    F.when(is_open, F.struct(F.col("txn_id"), F.col("_ts"), F.col("_n")))
                ).alias("open"),
                *[
                    F.coalesce(F.sum(F.when(released, F.col(f"n_{c}"))), F.lit(0)).alias(f"n_{c}")
                    for c in EVENT_CLASSES
                ],
                F.max(F.when(released, F.col("max_ts"))).alias("max_ts"),
                F.sort_array(F.collect_list(F.when(released, F.col("_ddl")))).alias("ddls"),
            )
            .withColumn("open", F.slice("open", 1, CONTROL_CAP))
            .head()
        )
        hwm = max(prev_hwm, agg["hwm"] or 0)
        n_open = agg["n_open"]
        spill = n_open > CONTROL_CAP
        cut = None if self.timeout_ms is None else hwm - self.timeout_ms

        rows = src.where(is_txn & is_row)
        snap = self._snap_path(epoch_id)
        ev_new: dict[int, int] = {}

        if not spill:
            # steady state: the open set is complete on the driver
            open_txns = {r["txn_id"]: r for r in agg["open"]}
            open_ids = sorted(open_txns)
            alive_ids = open_ids
            if cut is not None and open_ids:
                # the clear-on-rotate analogue: a txn whose last activity
                # fell abandon_timeout behind the stream's clock is dropped
                # whole, and remembered in the grace set (drop-whole for
                # any late COMMIT — see module docstring)
                alive_ids = [t for t in open_ids if open_txns[t]["_ts"] >= cut]
                ev_new = {t: hwm for t in open_ids if open_txns[t]["_ts"] < cut}

            # commit snapshot N: fragments first, meta second (a crash
            # between the two leaves no meta -> the snapshot does not exist
            # yet and the replay rewrites it; meta is the commit point).
            # The common case — every transaction batch-complete — writes
            # NO snapshot and returns the row events UNFILTERED: zero added
            # work on the released path. isin compiles the (small, capped)
            # id list into the plan as a pushed-down filter.
            if alive_ids:
                parked = rows.where(F.col("txn_id").isin(alive_ids))
                if sum(open_txns[t]["_n"] for t in alive_ids) < SNAPSHOT_ONE_FILE_ROWS:
                    # the straddler set is boundary-proportional — a handful
                    # of rows in steady state — but the write inherits the
                    # batch scan's partitioning and emits one near-empty
                    # file per scan task, paid again by next epoch's
                    # pend_prev read. Cluster the (few) post-filter rows
                    # into one file; a bulk straddler keeps the parallel
                    # write instead of funnelling through one task.
                    parked = parked.repartition(1)
                parked.write.mode("overwrite").parquet(snap)
            else:
                self.fs.rmtree(snap)  # crashed half-write
            self._commit_meta(epoch_id, hwm, ev_prev, ev_new)

            # ONE scan emits released rows AND control events (a union of
            # two filters over the same source would scan the micro-batch
            # twice at downstream cache-fill); the tiny previous-pending
            # side rides in by union only when it exists.
            not_open = (
                ~F.col("txn_id").isin(open_ids) if open_ids else F.lit(True)
            )
            out = batch.where(
                is_ctrl | (is_row & is_txn & not_evicted & not_open)
            ).select(*cols)
            if pend_prev is not None:
                out = out.unionByName(pend_prev.where(is_row & not_open))
            return out, agg

        # PATHOLOGICAL batch (most transactions open — e.g. a log truncated
        # mid-backlog): spill the open set to a per-epoch parquet side file
        # and route everything through distributed joins against it; the
        # driver holds no ids at all.
        open_path = self._open_path(epoch_id)
        per_txn.where(is_open).select("txn_id", "_ts").write.mode(
            "overwrite"
        ).parquet(open_path)
        open_all = spark.read.parquet(open_path)
        alive = open_all.where(F.col("_ts") >= cut) if cut is not None else open_all
        if cut is not None:
            # grace entries for evicted ids, capped: overflow ids lose
            # drop-whole protection (documented; meta records the overflow).
            # The cap is taken NEWEST-FIRST (then txn_id for total order):
            # an unordered limit() would protect a plan-dependent arbitrary
            # subset — different between a crashed attempt and its replay —
            # and the newest evictions are the ones most likely to see a
            # late COMMIT anyway
            evict_rows = (
                open_all.where(F.col("_ts") < cut)
                .orderBy(F.col("_ts").desc(), F.col("txn_id"))
                .limit(CONTROL_CAP + 1)
                .collect()
            )
            ev_new = {r["txn_id"]: hwm for r in evict_rows[:CONTROL_CAP]}
            if len(evict_rows) > CONTROL_CAP:
                ev_new["_overflow"] = True  # marker, stripped in _commit_meta
        parked = rows.join(alive.select("txn_id"), "txn_id", "left_semi")
        parked.write.mode("overwrite").parquet(snap)
        self._commit_meta(epoch_id, hwm, ev_prev, ev_new)

        rows_b = batch.where(is_row & is_txn & not_evicted).select(*cols)
        if pend_prev is not None:
            rows_b = rows_b.unionByName(pend_prev)
        out = rows_b.join(
            open_all.select("txn_id"), "txn_id", "left_anti"
        ).unionByName(batch.where(is_ctrl).select(*cols))
        return out, agg

    def _commit_meta(
        self, epoch_id: int, hwm: int, ev_prev: dict, ev_new: dict
    ) -> None:
        """Atomic snapshot commit point (write-then-replace) + retention.
        Merges surviving prior grace entries (hwm already advanced past
        timeout+grace ones) with this epoch's evictions, capped at
        CONTROL_CAP newest."""
        overflow = bool(ev_new.pop("_overflow", False))
        ev = dict(ev_prev)
        if self.timeout_ms is not None:
            # retire entries the hwm advanced a full timeout past: a COMMIT
            # later than that applies partially (documented corner)
            ev = {t: ms for t, ms in ev.items() if ms + self.timeout_ms >= hwm}
        ev.update(ev_new)
        if len(ev) > CONTROL_CAP:
            keep = sorted(ev, key=lambda t: (-ev[t], t))[:CONTROL_CAP]
            overflow = True
            ev = {t: ev[t] for t in keep}
        meta = {"epoch": epoch_id, "hwm_ms": int(hwm)}
        if ev:
            meta["evicted"] = {str(t): int(ms) for t, ms in ev.items()}
        if overflow:
            meta["evicted_overflow"] = True
        self.fs.write_text_atomic(self._meta_path(epoch_id), json.dumps(meta))
        # retention AFTER the commit: N-1 (this epoch's lazy input) always
        # survives; only snapshots no plan can still reference are removed
        for e in self._epochs()[: -self.keep_last]:
            self.fs.rmtree(self._snap_path(e))
            self.fs.rmtree(self._open_path(e))
            self.fs.remove(self._meta_path(e))
