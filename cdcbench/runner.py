"""One benchmark run: generate the log, set up the engine, drive the
stream, read the table back, check it against the oracle, report.

The stream is driven here with ``job.stream().writeStream.foreachBatch``
so each micro-batch's ``StreamingQueryProgress`` is visible; the engine
itself is used only through its public API and is never modified.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from cdcbench import procstat
from cdcbench.gen import GeneratedLog, Publisher, generate
from cdcbench.oracle import Oracle
from cdcbench.workloads import Workload

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    #: metric names, units and bounds (``end_to_end``, ``per_layer``)
    BENCHMARK = json.load(_fh)
LAYER_NAMES = [m["name"] for m in BENCHMARK["per_layer"]]
#: the engine's ``mtm:<phase>`` job labels, as named in the phase metrics
PHASES = [n[len("job.phase.") : -len("_task_s")] for n in LAYER_NAMES if n.startswith("job.phase.") and n.endswith("_task_s")]

#: generator lateness above this p90 makes the run invalid (not slow)
MAX_LATE_S = 1.0
REPLAY_REPEATS = 2
#: as-of reads at these fractions of the committed gtid range
ASOF_FRACTIONS = (0.4, 0.6)


def p50(xs: list[float | None]) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[min(len(s) - 1, int(round(q * (len(s) - 1))))])


def read_manifests(root: str) -> list[dict]:
    """The sink's snapshot chain, oldest first, read straight from disk
    (plain file reads, so traced runs do not count them as engine IO)."""
    mdir = os.path.join(root, "manifests")
    out = []
    for fn in sorted(os.listdir(mdir)):
        if fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as fh:
                out.append(json.load(fh))
    return out


def current_max_gtid(root: str) -> int:
    with open(os.path.join(root, "_current")) as fh:
        name = fh.read().strip()
    with open(os.path.join(root, "manifests", name)) as fh:
        return int(json.load(fh)["max_gtid_seq"])


@dataclass
class Epoch:
    epoch_id: int
    t0: float
    t1: float
    pending_rows: int = 0


@dataclass
class BatchRecorder:
    """The foreachBatch callback: calls ``job.process_batch`` and records
    its wall time and the committed gtid."""

    job: object
    root: str
    pending_dir: str | None = None
    epochs: list[Epoch] = field(default_factory=list)
    max_gtid: int = -1
    error: BaseException | None = None
    cond: threading.Condition = field(default_factory=threading.Condition)

    def on_batch(self, df, epoch_id: int) -> None:
        t0 = time.time()
        try:
            self.job.process_batch(df, epoch_id)
        except Exception as e:
            with self.cond:
                self.error = e
                self.cond.notify_all()
            raise
        t1 = time.time()
        ep = Epoch(epoch_id, t0, t1)
        if self.pending_dir is not None:
            ep.pending_rows = pending_rows(self.pending_dir, epoch_id)
        g = current_max_gtid(self.root)
        with self.cond:
            self.epochs.append(ep)
            self.max_gtid = g
            self.cond.notify_all()

    def wait_gtid(self, gtid: int, timeout: float) -> None:
        deadline = time.time() + timeout
        with self.cond:
            while self.max_gtid < gtid and self.error is None:
                left = deadline - time.time()
                if left <= 0:
                    raise TimeoutError(f"gtid {gtid} not committed within {timeout:.0f}s")
                self.cond.wait(left)
            if self.error is not None:
                raise RuntimeError("micro-batch failed") from self.error


def pending_rows(pending_dir: str, epoch_id: int) -> int:
    snap = os.path.join(pending_dir, f"snap-{epoch_id:09d}")
    if not os.path.isdir(snap):
        return 0
    return sum(
        pq.read_metadata(os.path.join(snap, fn)).num_rows
        for fn in os.listdir(snap)
        if fn.endswith(".parquet")
    )


class Ops:
    """Attempted / failed operation counter (epochs, reads, replays,
    correctness checks)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str, n: int = 1) -> None:
        self.attempted += n
        self.failed += n
        self.notes.append(what)

    def measure(self, what: str, fn, ok) -> float | None:
        """Time ``fn()`` as one operation; it fails if it raises or its
        result does not pass ``ok``. Returns the seconds, or None."""
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # a failed read is counted, not fatal
            self.fail(f"{what}: {type(e).__name__}: {str(e)[:300]}")
            return None
        dt = time.perf_counter() - t0
        return dt if self.check(ok(out), what) else None

    def check(self, cond: bool, what: str) -> bool:
        if cond:
            self.ok()
        else:
            self.fail(what)
        return cond


def checksum(df, cols: list[str]):
    """(row count, xor of per-row xxhash64) over ``cols`` — one Spark job."""
    from pyspark.sql import functions as F

    cols = [c for c in cols if c in df.columns]  # as-of reads predate DDL columns
    r = df.select(F.count("*").alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h")).head()
    return int(r["n"]), int(r["h"] or 0)


def run(w: Workload, seed: int, seconds: float, trace: bool, base_dir: str, post: bool = True) -> dict:
    """One run; ``post=False`` stops after the stream metrics (no reads,
    replays or checks of the table)."""
    from cdcbench import trace as tr

    work = os.path.join(base_dir, f"{w.name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        log = generate(w, seed, seconds)
        calls = tr.Calls()
        if trace:
            with tr.wrapped(calls):
                return _run(w, log, work, trace, calls, post)
        return _run(w, log, work, trace, calls, post)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(w: Workload, log: GeneratedLog, work: str, trace: bool, calls, post: bool) -> dict:
    from mysql_time_machine_spark.config import EngineConfig
    from mysql_time_machine_spark.metrics import reconcile_lineage
    from mysql_time_machine_spark.plans.replay import replay_batch
    from mysql_time_machine_spark.session import get_spark
    from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink
    from mysql_time_machine_spark.sources.binlog import read_binlog
    from mysql_time_machine_spark.streaming.job import ApplyJob

    from cdcbench import trace as tr

    ops = Ops()
    binlog_dir = os.path.join(work, "binlog")
    root = os.path.join(work, "table")
    event_dir = os.path.join(work, "eventlog")
    # two Spark threads leave the other cores to the JIT compiler and GC
    # threads, the Python driver and the publisher: on a 4-vCPU VM as fast
    # as local[4], with much less spread between runs (README.md,
    # "Configuration")
    cpus = min(2, os.cpu_count() or 1)
    # two shuffle partitions per core instead of the engine's 32, which was
    # sized for local[32] (README.md, "Configuration")
    partitions = 2 * cpus
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.ui.showConsoleProgress": "false",
    }
    os.makedirs(os.path.join(work, "tmp"))
    if trace:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    pub = Publisher(binlog_dir)
    host_steal0 = procstat.host_steal_s()

    # ---- setup: session, sink, job, bootstrap, warm-up ------------------------
    rss = procstat.RssSampler()
    rss.start()
    t_setup0 = time.perf_counter()
    spark = get_spark(
        app_name=f"cdcbench-{w.name}",
        master=f"local[{cpus}]",
        shuffle_partitions=partitions,
        extra_conf=conf,
    )
    stages = {"setup.session_s": time.perf_counter() - t_setup0}
    q = None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        sink = ManifestParquetSink(spark, root, merge_strategy=w.merge_strategy)
        cfg = EngineConfig(
            buffer_transactions=w.buffer_transactions,
            max_files_per_trigger=w.max_files_per_trigger,
            shuffle_partitions=partitions,
        )
        job = ApplyJob(spark, binlog_dir, sink, cfg)
        pending = job.checkpoint_dir + "_pending" if job.txn_store is not None else None
        rec = BatchRecorder(job, root, pending_dir=pending if trace else None)
        pub.publish_now(log.bootstrap)
        q = (
            job.stream()
            .writeStream.foreachBatch(rec.on_batch)
            .option("checkpointLocation", job.checkpoint_dir)
            .start()
        )
        rec.wait_gtid(0, timeout=120)
        stages["setup.bootstrap_s"] = time.perf_counter() - t_setup0 - stages["setup.session_s"]
        if w.open_loop:
            t_sched = time.time()
            due = pub.start_schedule(log.warmup + log.timed, t_sched, w.file_interval_s)
            t0 = due[len(log.warmup)]
            # setup ends when the first timed file is due
            time.sleep(max(0.0, t0 - time.time()))
            setup_s = time.perf_counter() - t_setup0
            timed_due = due[len(log.warmup) :]
        else:
            pub.publish_now(log.warmup)
            rec.wait_gtid(log.warmup[-1].cover_gtid, timeout=120)
            setup_s = time.perf_counter() - t_setup0
            t0 = time.time()
            pub.publish_now(log.timed)
            timed_due = [t0] * len(log.timed)

        # ---- timed phase -------------------------------------------------------
        cpu0 = procstat.tree_cpu_s()
        last_cover = max(f.cover_gtid for f in log.timed)
        feed_s = len(log.timed) * w.file_interval_s
        rec.wait_gtid(last_cover, timeout=90 + 2 * feed_s)
        pub.join(timeout=30)
        cpu_s = procstat.tree_cpu_s() - cpu0
        # a batch's progress report lands after foreachBatch returns
        last_epoch = rec.epochs[-1].epoch_id
        deadline = time.time() + 30
        while (q.lastProgress or {}).get("batchId", -1) < last_epoch and time.time() < deadline:
            time.sleep(0.05)
        q.stop()
        q_progress = [dict(p) for p in q.recentProgress]
        q = None
        late = [p - d for p, d in zip(pub.published[-len(log.timed) :], timed_due)]

        # ---- stream metrics -------------------------------------------------------
        chain = read_manifests(root)
        commits = sorted((m["max_gtid_seq"], m.get("committed_at", 0.0)) for m in chain)
        lags = []
        for f, d in zip(log.timed, timed_due):
            if f.cover_gtid < 0:
                continue
            at = next((c for g, c in commits if g >= f.cover_gtid), None)
            if at is None:
                ops.fail(f"file {f.name} never committed")
            else:
                lags.append(at - d)
        t_end = next(c for g, c in commits if g >= last_cover)
        # an epoch that started before t0 carried no timed file: the closed
        # loop publishes after the warm-up drained, and in the open loop the
        # wait for it is part of the first timed files' lag
        timed_epochs = [e for e in rec.epochs if e.t0 >= t0]
        prog = {p["batchId"]: p for p in q_progress}
        # open loop: the epochs after the feed ended only drain its tail
        # and are smaller; the epoch time is that of the steady ones
        steady = [e for e in timed_epochs if not w.open_loop or e.t0 < timed_due[-1]] or timed_epochs
        trig = [
            prog[e.epoch_id]["durationMs"].get("triggerExecution", 0) / 1000
            for e in steady
            if e.epoch_id in prog
        ]
        ops.ok(len(timed_epochs))
        metrics = {
            "setup_s": setup_s,
            "apply_events_per_s": log.timed_row_events / max(t_end - t0, 1e-9),
            "epoch_s_p50": p50(trig),
            "lag_s_p50": p50(lags),
            "lag_s_p90": pct(lags, 0.9),
        }
        if not post:
            return {"ops": ops, "metrics": metrics}

        stages["setup.warmup_s"] = setup_s - stages["setup.session_s"] - stages["setup.bootstrap_s"]
        t_post = time.perf_counter()

        # ---- reads -------------------------------------------------------------
        cols = ["repo", "path"] + log.final_columns
        oracle = Oracle(log.events, log.final_columns)
        # the cold first read (excluded from read_s) is the correctness gate:
        # the whole table, compared with the oracle
        final = sink.read().toArrow()
        diff = oracle.compare(final)
        bad = {k: v for k, v in diff.items() if k not in ("n_expected", "n_got") and v}
        if diff["n_expected"] != diff["n_got"]:
            bad["row_count"] = (diff["n_expected"], diff["n_got"])
        ops.check(not bad, f"final table vs oracle: {bad}")
        # every later read must reproduce the first warm read's checksum,
        # and that read the oracle's row count
        ref: list = []

        def same_table(got) -> bool:
            if not ref:
                ref.append(got)
            return got == ref[0] and got[0] == diff["n_expected"]

        top = chain[-1]["max_gtid_seq"]
        asof = []
        for frac in ASOF_FRACTIONS:
            g = int(top * frac)
            snap_g = max(m["max_gtid_seq"] for m in chain if m["max_gtid_seq"] <= g)
            asof.append((g, oracle.live_count(snap_g)))
        days = oracle.days()
        day = days[len(days) // 2]
        want_cl = oracle.changelog_count(day)
        cl_cols = ["repo", "path", "gtid_seq", "log_pos", "op"]

        # the traced run reports per-layer metrics only, so it skips the
        # repeated reads the end-to-end read metrics come from. The three
        # kinds of read take turns, so a pause of the host slows a few reads
        # of each kind instead of most reads of one; the as-of reads
        # alternate between the gtids
        read_s: list = []
        asof_s: list = []
        cl_s: list = []
        rounds = 0 if trace else max(w.read_repeats, w.changelog_reads)
        for i in range(rounds):
            if i < w.read_repeats:
                read_s.append(ops.measure("read", lambda: checksum(sink.read(), cols), same_table))
                g, want = asof[i % len(asof)]
                asof_s.append(
                    ops.measure(
                        f"as-of read at gtid {g}",
                        lambda: checksum(sink.snapshot_as_of_gtid(g), cols),
                        lambda got: got[0] == want,
                    )
                )
            if i < w.changelog_reads:
                cl_s.append(
                    ops.measure(
                        f"changelog read of {day}",
                        lambda: checksum(sink.read_changelog(day), cl_cols),
                        lambda got: got[0] == want_cl,
                    )
                )
        metrics["read_s_p50"] = p50(read_s[w.read_warmup :])
        metrics["asof_read_s_p50"] = p50(asof_s[w.read_warmup :])
        metrics["changelog_read_s_p50"] = p50(cl_s[w.read_warmup :])

        # replay reads the bootstrap and the first ``replay_files`` log files
        # (all when 0). The first replay compiles its plan and is not timed;
        # its table must equal the oracle's at the last transaction those
        # files commit, and every timed replay must reproduce its row count
        # and the first timed replay's checksum
        replay_log = log.bootstrap + (log.warmup + log.timed)[: w.replay_files or None]
        replay_dir = os.path.join(work, "replay")
        Publisher(replay_dir).publish_now(replay_log)
        g_replay = max(f.cover_gtid for f in replay_log)
        business = [(c, "string") for c in log.final_columns]

        def replayed():
            return replay_batch(read_binlog(spark, replay_dir), business, impl="auto")

        rdiff = oracle.compare(replayed().toArrow(), oracle.expected_sql(g_replay))
        rbad = {k: v for k, v in rdiff.items() if k not in ("n_expected", "n_got") and v}
        ops.check(not rbad and rdiff["n_expected"] == rdiff["n_got"], f"replay vs oracle: {rdiff}")
        rref: list = []

        def same_replay(got) -> bool:
            if not rref:
                rref.append(got)
            return got == rref[0] and got[0] == rdiff["n_expected"]

        replay_s = []
        for _ in range(REPLAY_REPEATS):
            spark.sparkContext.setJobDescription("cdcbench:replay")
            t_r0 = time.time()
            replay_s.append(ops.measure("replay", lambda: checksum(replayed(), cols), same_replay))
            spark.sparkContext.setJobDescription(None)
            calls.records["replay"].append((t_r0, time.time(), None))
        replay_p50 = p50(replay_s)
        replay_rows = sum(f.rows for f in replay_log)
        metrics["replay_events_per_s"] = replay_rows / replay_p50 if replay_p50 else 0.0

        # ---- exactly-once: lineage and consumed totals ----------------------------
        stages["post.reads_s"] = time.perf_counter() - t_post
        bounds = [m["max_gtid_seq"] for m in chain if m.get("lineage")]
        lin = reconcile_lineage(sink.read_lineage(), oracle.epoch_status_counts(bounds))
        ops.check(not lin, f"lineage vs generator: {lin}")
        consumed = sum(m["lineage"].get("events_consumed", {}).get("ROW", 0) for m in chain if m.get("lineage"))
        ops.check(consumed == log.row_events, f"row events consumed {consumed} != {log.row_events}")
        late_p90 = pct(late, 0.9)
        ops.check(late_p90 <= MAX_LATE_S, f"generator ran late: p90 {late_p90:.3f}s")

        diag = {
            "proc.cpu_s_per_mevent": cpu_s / max(log.timed_row_events, 1) * 1e6,
            "host.steal_s": procstat.host_steal_s() - host_steal0,
            "host.load1": procstat.load1(),
            "gen.late_s_p90": late_p90,
            "timed_epochs": len(timed_epochs),
            "timed_files": len(log.timed),
            "lag_samples": len(lags),
            "samples": {
                "epoch_s": trig,
                "read_s": read_s,
                "asof_s": asof_s,
                "changelog_s": cl_s,
                "replay_s": replay_s,
            },
            **stages,
            "post.check_s": time.perf_counter() - t_post - stages["post.reads_s"],
        }
        layer = None
        if trace:
            layer = _layer_metrics(log, sink, chain, timed_epochs, prog, calls, cols, same_table, ops)
    finally:
        if q is not None:
            q.stop()
        pub.stop()
        spark.stop()
        rss.stop()
    diag["proc.peak_rss_mb"] = rss.peak_mb
    if trace:
        ev = tr.EventLog(event_dir)
        layer.update(_event_log_metrics(ev, rec, timed_epochs, calls))
        layer.update({k: v for k, v in diag.items() if k in LAYER_NAMES})
    return {
        "ops": ops,
        "metrics": metrics,
        "layer": layer,
        "diag": diag,
    }


def _layer_metrics(log, sink, chain, timed_epochs, prog, calls, cols, same_table, ops) -> dict:
    """Per-layer figures of the timed epochs, from the wrapped calls, the
    progress reports and the committed manifests."""
    ids = [e.epoch_id for e in timed_epochs]
    n_ep = max(len(ids), 1)
    lo = min(e.t0 for e in timed_epochs)
    hi = max(e.t1 for e in timed_epochs)
    pr = [prog[i] for i in ids if i in prog]
    dur = [p["durationMs"] for p in pr]
    in_window = lambda name: calls.between(name, lo, hi + 1e-3)  # noqa: E731
    by_epoch = {m["epoch_id"]: m for m in chain}
    timed_snaps = [by_epoch[i] for i in ids if i in by_epoch]
    # files and bytes the timed commits added (data, deltas, changelog)
    seen: set[str] = set()
    for m in chain:
        if m["epoch_id"] not in ids:
            seen.update(_manifest_files(m))
    written = set()
    for m in timed_snaps:
        written.update(f for f in _manifest_files(m) if f not in seen)
    n_bytes = sum(os.path.getsize(f) for f in written if os.path.exists(f))
    in_bytes = sum(len(f.data) for f in log.timed)
    per_bucket: dict[str, int] = {}
    for m in timed_snaps:
        for b, c in m["lineage"].get("per_bucket", {}).items():
            per_bucket[b] = per_bucket.get(b, 0) + c["n_I"] + c["n_U"] + c["n_D"]
    bucket_rows = [per_bucket.get(str(b), 0) for b in range(sink.n_buckets)]
    events_in = sum(m["lineage"].get("events_consumed", {}).get("ROW", 0) for m in timed_snaps)
    keys_out = sum(m["lineage"]["n_I"] + m["lineage"]["n_U"] + m["lineage"]["n_D"] for m in timed_snaps)
    fs_calls = in_window("fsio")
    ddl = in_window("registry.apply_ddl")
    cur = chain[-1]
    delta_files = sum(len(v) for v in cur.get("delta_buckets", {}).values())
    walk_s = ops.measure("snapshots walk", sink.snapshots, lambda chain_: len(chain_) == len(chain))
    compact_s = ops.measure("compaction", sink.rewrite_data_files, lambda _: True)
    ops.measure("read after compaction", lambda: checksum(sink.read(), cols), same_table)
    out = {
        "binlog.input_rows": sum(p["numInputRows"] for p in pr),
        "binlog.offset_s_p50": p50([(d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000 for d in dur]),
        "job.process_batch_s_p50": p50([e.t1 - e.t0 for e in timed_epochs]),
        "job.trigger_overhead_s_p50": p50([(d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1000 for d in dur]),
        "job.epochs": len(ids),
        "job.empty_epochs": sum(1 for p in pr if p["numInputRows"] == 0),
        "txn_store.resolve_s_p50": p50([b - a for a, b, _ in in_window("txn_store.resolve")]),
        "txn_store.pending_rows_max": max([e.pending_rows for e in timed_epochs], default=0),
        "reassemble.events_in": events_in,
        "reassemble.keys_out": keys_out,
        "reassemble.collapse_ratio": events_in / max(keys_out, 1),
        "reassemble.sorted_calls": len(in_window("reassemble.sorted")),
        "reassemble.sql_calls": len(in_window("reassemble.sql")),
        "replay.s_p50": p50([b - a for a, b, _ in calls.records["replay"]]),
        "manifest.merge_s_p50": p50([b - a for a, b, _ in in_window("manifest.merge")]),
        "manifest.files_per_epoch": len(written) / n_ep,
        "manifest.bytes_written_per_epoch": n_bytes / n_ep,
        "manifest.write_amplification": n_bytes / max(in_bytes, 1),
        "manifest.bucket_skew": max(bucket_rows) / max(statistics.mean(bucket_rows), 1e-9),
        "manifest.delta_files": delta_files,
        "manifest.snapshots_walk_s": walk_s or 0.0,
        "manifest.compact_s": compact_s or 0.0,
        "registry.ddl_applied": sum(1 for *_, r in ddl if r),
        "registry.apply_ddl_s": sum(b - a for a, b, _ in ddl),
        "fsio.calls_per_epoch": len(fs_calls) / n_ep,
        "fsio.s_per_epoch": sum(b - a for a, b, _ in fs_calls) / n_ep,
    }
    return out


def _manifest_files(m: dict) -> list[str]:
    out = [f for fl in m["buckets"].values() for f in fl]
    out += [f for fl in m.get("delta_buckets", {}).values() for f in fl]
    out += [f for fl in m.get("changelog_files", {}).values() for f in fl]
    return out


def _event_log_metrics(ev, rec, timed_epochs, calls) -> dict:
    windows = [(e.t0, e.t1 + 1e-3) for e in timed_epochs]
    phases = ev.phases(windows, list(PHASES))
    out = {}
    for name in PHASES:
        wall, task = phases.get(name, (0.0, 0.0))
        out[f"job.phase.{name}_s"] = wall
        out[f"job.phase.{name}_task_s"] = task
    gaps = [(e.t1 - e.t0) - ev.busy_s(e.t0, e.t1 + 1e-3) for e in timed_epochs]
    out["job.driver_gap_s_p50"] = p50(gaps)
    out["replay.task_s"] = sum(ev.task_s(a, b + 1e-3) for a, b, _ in calls.records["replay"])
    return out
