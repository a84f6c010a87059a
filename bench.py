"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline is the north-star path: end-to-end CDC apply — simulated
binlog stream -> salted mapInPandas reassembly -> fenced manifest MERGE —
reported both as wall seconds and derived change-events/sec. Scaling
evidence across parallelism levels lives in BENCH/scaling.py (writes
BENCH/BASELINE.md).

Noise robustness: this box's background load swings single runs 2-3x
(documented in BENCH/SCALING_r3_pairA.md), so every timed query runs
SPARK_GRAFT_TRIALS times (default 3), INTERLEAVED — trial loop outermost,
so a load spike degrades one trial of every query instead of every trial
of one query — and the committed number is the per-query best (the
least-interfered measurement, the same policy BENCH/scaling.py uses).
The full trial spread is recorded in the JSON ("trials") so a real
regression is distinguishable from a noisy trial. Round 6 adds the load
guard: each trial loop waits (briefly) for a quiet 1-min loadavg before
starting, and every per-query trial records the loadavg it launched
under ("loadavg" in the JSON) — cross-round trend lines can now be read
against the load regime each number was measured in.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
#: event-log amplification for the CDC apply benchmark (churn is replayed
#: K times with shifted gtids — deterministic, no RNG)
AMPLIFY = int(os.environ.get("SPARK_GRAFT_AMPLIFY", "10"))
#: best-of-N trials per timed query (interleaved)
TRIALS = int(os.environ.get("SPARK_GRAFT_TRIALS", "3"))
#: load guard: before each trial loop, wait up to this many seconds for
#: the 1-min loadavg to drop below SPARK_GRAFT_QUIET_THRESH (0 disables)
QUIET_WAIT = int(os.environ.get("SPARK_GRAFT_QUIET_WAIT", "120"))
QUIET_THRESH = float(os.environ.get("SPARK_GRAFT_QUIET_THRESH", "4.0"))


def _load1() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def _wait_quiet() -> None:
    deadline = time.time() + QUIET_WAIT
    while _load1() >= QUIET_THRESH and time.time() < deadline:
        time.sleep(10)


def amplified_events(spark, sf_dir, k):
    """sql_mode churn replayed k times with shifted (gtid, key-suffix) — a
    deterministic way to scale event volume without external data."""
    from pyspark.sql import functions as F

    from fixtures.gen_binlog import sql_mode_events

    ev = sql_mode_events(spark, sf_dir)
    if k <= 1:
        return ev
    max_gtid = 1_000_000_000
    reps = spark.range(k).select(F.col("id").alias("_rep"))
    return (
        ev.crossJoin(F.broadcast(reps))
        .withColumn("gtid_seq", F.col("gtid_seq") + F.col("_rep") * max_gtid)
        .withColumn("txn_id", F.col("txn_id") + F.col("_rep") * max_gtid)
        .drop("_rep")
    )


def with_txn_markers(ev, txn_width: int = 10):
    """Re-transaction the event log for the v2 buffered path: every
    ``txn_width`` consecutive gtids form one transaction, wrapped in
    BEGIN/COMMIT marker events (the sql-mode log is marker-free one-row
    transactions, which would never exercise the uuidBuffer). The BEGIN
    rides the txn's min gtid and the COMMIT its max, so when epoch files
    are cut on gtid boundaries the COMMIT always lands in the txn's LAST
    file — rows are never orphaned behind their commit."""
    from pyspark.sql import functions as F

    ev2 = ev.withColumn(
        "txn_id", F.floor(F.col("gtid_seq") / F.lit(txn_width)).cast("long")
    )
    txns = ev2.groupBy("txn_id").agg(
        F.min("gtid_seq").alias("_g0"),
        F.max("gtid_seq").alias("_g1"),
        F.max("ts").alias("_ts"),
        F.max("log_file").alias("_lf"),
    )

    def marker(op, gcol, seq):
        return txns.select(
            F.col("_lf").alias("log_file"),
            F.col(gcol).alias("log_pos"),
            F.concat(F.lit("uuid0:m"), F.col("txn_id").cast("string")).alias("gtid"),
            F.col(gcol).alias("gtid_seq"),
            F.col("txn_id"),
            F.lit(seq).alias("seq_in_txn"),
            F.lit(1).alias("server_id"),
            F.col("_ts").alias("ts"),
            F.lit(op).alias("op"),
            F.lit(1).alias("schema_version"),
            F.lit(None).cast("string").alias("repo"),
            F.lit(None).cast("string").alias("path"),
            F.lit(None).cast("map<string,string>").alias("before"),
            F.lit(None).cast("map<string,string>").alias("after"),
            F.lit(op).alias("ddl"),
        )

    return ev2.unionByName(marker("BEGIN", "_g0", -1)).unionByName(
        marker("COMMIT", "_g1", 99)
    )


def _write_binlog_files(spark, ev, tmp, binlog_dir, n_ep, split_col):
    """n_ep epoch files, written sequentially (mtime order == replay order).
    ``split_col`` buckets events into files; equal values never straddle.

    repartition (NOT coalesce): file count per epoch must be deterministic
    — through round 4 a 2-partition input made coalesce(4) emit 2 files,
    so the plain leg's 8 files fit ONE maxFilesPerTrigger=8 micro-batch
    while the buffered leg ran two, silently comparing a 1-merge run
    against a 2-merge run. Both legs now run the same micro-batch count."""
    os.makedirs(binlog_dir)
    for e in range(n_ep):
        stage = os.path.join(tmp, f"stage_{os.path.basename(binlog_dir)}_{e}")
        ev.where(split_col == e).repartition(4).write.parquet(stage)
        for i, fn in enumerate(sorted(os.listdir(stage))):
            if fn.endswith(".parquet"):
                shutil.copyfile(
                    os.path.join(stage, fn),
                    os.path.join(binlog_dir, f"epoch-{e:03d}-{i:02d}.parquet"),
                )
        time.sleep(0.05)


def main():
    from pyspark.sql import functions as F

    from mysql_time_machine_spark.session import get_spark

    sf = float(SF_DIR.rstrip("/").split("sf")[-1]) if "sf" in SF_DIR else None
    spark = get_spark("mtm-bench", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))
    import __spark_entry__ as entry_mod

    from mysql_time_machine_spark.config import EngineConfig
    from mysql_time_machine_spark.plans.replay import replay_batch
    from mysql_time_machine_spark.schema import BASE_COLUMNS
    from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink
    from mysql_time_machine_spark.streaming.job import ApplyJob

    trials: dict[str, list[float]] = {}
    extra: dict[str, float] = {}

    # ---- setup (untimed) --------------------------------------------------
    # warm the JVM/file listing outside the timed region
    for t in ("events", "documents", "embeddings", "lineitem", "customer", "orders"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()

    ev = amplified_events(spark, SF_DIR, AMPLIFY)
    n_row_events = ev.where(F.col("op").isin("I", "U", "D")).count()
    extra["cdc_row_events"] = n_row_events

    tmp = tempfile.mkdtemp(prefix="mtm_bench_")
    n_ep = 4
    # BOTH logs are cut on gtid quantiles — epoch files must be in BINLOG
    # ORDER (SURVEY ST2: delivery is total-ordered; MySQL rotates files in
    # position order). Through round 4 the plain leg was cut by txn_id%4,
    # which interleaves the timeline across epochs — an out-of-order
    # delivery no binlog produces (and which resurrects deleted keys: a
    # stale INSERT arriving after the key's DELETE finds no row to carry
    # the per-key gtid fence). It went unnoticed only because the 8-file
    # layout fit one micro-batch (see _write_binlog_files).
    qs_bounds = ev.approxQuantile("gtid_seq", [i / n_ep for i in range(1, n_ep)], 0.001)
    file_of = F.lit(0)
    for b in qs_bounds:
        file_of = file_of + (F.col("gtid_seq") > F.lit(b)).cast("int")
    # plain leg: marker-free one-row txns — trivially txn-atomic files
    _write_binlog_files(spark, ev, tmp, os.path.join(tmp, "binlog"), n_ep, file_of)
    # buffered/marked legs: BEGIN/COMMIT-marked 50-row txns on the same
    # cut, so transactions straddle micro-batch boundaries — the
    # cross-batch txn buffer is on the measured path. Width 50 matches the
    # scaling evidence (BENCH/STREAM_SCALING_r4.md).
    ev_marked = with_txn_markers(ev, txn_width=50)
    _write_binlog_files(
        spark, ev_marked, tmp, os.path.join(tmp, "binlog_buffered"), n_ep, file_of
    )

    # ---- timed suite ------------------------------------------------------
    def run_cdc(impl):
        out = replay_batch(
            ev, list(BASE_COLUMNS), EngineConfig(shuffle_partitions=int(CPUS)), impl=impl
        )
        # force full materialization of every column (checksum, no collect)
        out.agg(F.sum(F.crc32("content")), F.sum(F.crc32("commit")), F.count("*")).collect()

    def run_stream(binlog_name, buffered, trial, changelog=False):
        tag = f"{binlog_name}_{'buf' if buffered else 'plain'}{'_cl' if changelog else ''}_t{trial}"
        sink_dir = os.path.join(tmp, f"sink_{tag}")
        sink = ManifestParquetSink(spark, sink_dir, n_buckets=int(CPUS))
        cfg = EngineConfig(
            shuffle_partitions=int(CPUS),
            max_files_per_trigger=8,
            write_changelog=changelog,
            buffer_transactions=buffered,
        )
        # generous bound: a load-spiked trial must finish, not truncate
        # (run_available now RAISES on truncation rather than silently
        # returning a half-consumed log)
        ApplyJob(
            spark,
            os.path.join(tmp, binlog_name),
            sink,
            cfg,
            checkpoint_dir=os.path.join(tmp, f"ckpt_{tag}"),
        ).run_available(timeout_sec=3500)
        return sink_dir

    qs = entry_mod.queries()
    sink_dirs: dict[str, str] = {}

    def suite(trial):
        yield "cdc_replay_pandas", lambda: run_cdc("pandas")
        yield "cdc_replay_sql", lambda: run_cdc("sql")
        yield (
            "cdc_stream_apply",
            lambda: sink_dirs.__setitem__("plain", run_stream("binlog", False, trial)),
        )
        # same-INPUT baseline for the buffered ratio: the marked log with
        # buffering off (correct on this log too — every txn commits
        # in-log, so eventual LWW convergence doesn't need the buffer).
        # Comparing buffered against the plain leg conflates buffer cost
        # with the marker/layout difference between the two logs.
        yield (
            "cdc_stream_apply_marked",
            lambda: sink_dirs.__setitem__(
                "marked", run_stream("binlog_buffered", False, trial)
            ),
        )
        yield (
            "cdc_stream_apply_buffered",
            lambda: sink_dirs.__setitem__(
                "buffered", run_stream("binlog_buffered", True, trial)
            ),
        )
        # the daily-changes fan-out (A6) is on the reference's hot path:
        # one leg measures its share of the epoch wall (same input as the
        # plain leg, changelog ON). Additional workload — not in the sum.
        yield (
            "cdc_stream_apply_changelog",
            lambda: sink_dirs.__setitem__(
                "changelog", run_stream("binlog", False, trial, changelog=True)
            ),
        )
        for name in (
            "q1_pricing_summary",
            "w1_lww_collapse",
            "events_enriched",
            "dedup_exact",
            "dedup_simhash",
            "sim_bruteforce_topk",
            "text_quality",
            "mm_media_features",
            "dedup_minhash_lsh",
        ):
            yield name, lambda f=qs[name]: f(spark, SF_DIR).agg(F.count("*")).collect()

        def run_simhash_pairs():
            extra["simhash_pairs_found"] = (
                qs["dedup_simhash_pairs"](spark, SF_DIR).agg(F.count("*")).collect()[0][0]
            )

        yield "dedup_simhash_pairs", run_simhash_pairs

    loadavg: dict[str, list[float]] = {}
    try:
        for trial in range(TRIALS):
            _wait_quiet()
            for name, fn in suite(trial):
                loadavg.setdefault(name, []).append(_load1())
                t0 = time.time()
                fn()
                trials.setdefault(name, []).append(round(time.time() - t0, 3))

        timings = {name: min(ts) for name, ts in trials.items()}
        extra["cdc_events_per_sec_pandas"] = round(
            n_row_events / timings["cdc_replay_pandas"], 1
        )
        extra["cdc_events_per_sec_sql"] = round(n_row_events / timings["cdc_replay_sql"], 1)
        extra["cdc_stream_events_per_sec"] = round(
            n_row_events / timings["cdc_stream_apply"], 1
        )
        extra["cdc_stream_buffered_events_per_sec"] = round(
            n_row_events / timings["cdc_stream_apply_buffered"], 1
        )
        # the buffered-path overhead question, answered on the SAME input
        extra["cdc_stream_buffered_over_marked"] = round(
            timings["cdc_stream_apply_buffered"] / timings["cdc_stream_apply_marked"], 3
        )
        # the daily-changes fan-out's share of the epoch wall (A6)
        extra["cdc_stream_changelog_over_plain"] = round(
            timings["cdc_stream_apply_changelog"] / timings["cdc_stream_apply"], 3
        )
        # parity evidence: both streaming legs converge to the same table
        for leg, d in sink_dirs.items():
            extra[f"cdc_stream_{leg}_final_rows"] = (
                ManifestParquetSink(spark, d).read().count()
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # ---- untimed scale evidence ------------------------------------------
    # pigeonhole banding: candidates examined by the banded equi-join vs the
    # all-pairs count it replaces
    from mysql_time_machine_spark.operators.dedup import _simhash_chunks, simhash

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = docs.select(F.col("lang"), simhash("text").alias("h")).localCheckpoint(eager=True)

    def banded_candidates(df):
        chunked = df.select(
            "lang",
            F.explode(
                F.array(*[F.struct(F.lit(i).alias("ci"), cv.alias("cv"))
                          for i, cv in enumerate(_simhash_chunks(F.col("h"), 5))])
            ).alias("c"),
        ).select("lang", "c.ci", "c.cv")
        return int(
            chunked.groupBy("lang", "ci", "cv").count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
            .head()[0]
        )

    # the operator bands DISTINCT (lang, fingerprint) representatives —
    # candidate volume is quadratic in distinct fingerprints per bucket,
    # never in docs; the doc-level number is what the pre-round-3 banding
    # paid (the identical-fingerprint mega-bucket floor)
    extra["simhash_banded_candidates"] = banded_candidates(base.distinct())
    extra["simhash_doclevel_candidates"] = banded_candidates(base)
    n_docs = docs.count()
    langs = docs.groupBy("lang").count().agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).head()[0]
    extra["simhash_allpairs_within_lang"] = int(langs)
    extra["simhash_n_docs"] = n_docs
    # interpretability: this synthetic corpus is dup-dense (seeded near-dups
    # + templated text), so the pair OUTPUT is bounded below by true pairs;
    # the distinct-fingerprint count is what the banding is now quadratic in
    extra["simhash_distinct_fingerprints"] = base.select("h").distinct().count()

    # headline value keeps the round-2/3 suite composition so the trend
    # line stays comparable; the buffered leg and its same-input marked
    # baseline (strictly additional workloads: the same events replayed
    # through the txn-buffer path) are reported per-query + as their own
    # extras, not in the sum. TREND CAVEAT (r5): epoch file counts are now
    # deterministic (see _write_binlog_files), so cdc_stream_apply runs 2
    # micro-batches where r2-r4 accidentally ran 1 — its wall time is
    # expected to rise by roughly one extra full-table CoW merge.
    excl = {
        "cdc_stream_apply_buffered",
        "cdc_stream_apply_marked",
        "cdc_stream_apply_changelog",
    }
    total = round(sum(v for k, v in timings.items() if k not in excl), 3)
    print(
        json.dumps(
            {
                "metric": "end-to-end CDC apply + operator suite wall time",
                "value": total,
                "unit": "sec",
                "value_excludes": sorted(excl),
                "queries": timings,
                "trials": trials,
                "loadavg": loadavg,
                "trial_policy": (
                    f"best-of-{TRIALS}, interleaved (trial loop outermost); "
                    f"each trial loop waits up to {QUIET_WAIT}s for load1 < {QUIET_THRESH}"
                ),
                "sf": sf,
                "cpus": int(CPUS),
                "amplify": AMPLIFY,
                **extra,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
