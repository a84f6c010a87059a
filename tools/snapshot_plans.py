"""Regenerate BENCH/PLANS.md — physical-plan snapshots of the flagship and
round-3 paths, with the audit checklist at the top.

Usage: python tools/snapshot_plans.py   (writes BENCH/PLANS.md)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.001"

HEADER = """# BENCH/PLANS.md — physical plans of the flagship paths (round 4)

`df.explain()` snapshots, captured at sf0.001 (plan shape is
scale-independent; AQE re-plans at runtime). What to look for:

- **Predicate pushdown reaches the scans**: `PushedFilters: [...]` on
  every parquet scan; event-op filters push into the binlog scan.
- **ReadSchema is pruned**: the collapse paths read only the envelope
  columns they use ('before', gtid strings, txn metadata never leave the
  scan).
- **Broadcast where a side is small**: dimension joins are
  `BroadcastHashJoin BuildRight`; the registry as-of join compiles to a
  literal CASE chain (no join at all).
- **Aggregation is partial/final**: per-key last-reset and the centroid
  argmin both show paired (Sort)Aggregates around the Exchange — map-side
  combine; Sort-based where the aggregate buffer is an order-struct.
- **Pair generation is EQUI-join, never all-pairs**: simhash_pairs hash-
  joins on (chunk_idx, chunk_value, lang) with the leftmost-match +
  hamming filters folded into the join; ngram_jaccard_pairs hash-joins on
  (exploded length bucket, lang). No CartesianProduct / no
  BroadcastNestedLoopJoin except two deliberate tiny-broadcast-side
  cases: the centroid cross-join and the registry range-join fallback
  (DDL-heavy histories, where a CASE fold would defeat codegen).
- **Top-k is TakeOrderedAndProject**, not a global sort.
- The sorted kernel appears as `MapInPandas` over a `Sort` fed by a
  single Exchange on the salted bucket — one shuffle of the live events
  for the whole replay, and no Python-side sort.
"""


def cap(title: str, df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    text = buf.getvalue().rstrip()
    return f"\n```\n=== {title} ===\n{text}\n```\n"


def epoch_action_plans(spark, tmpdir: str) -> list[tuple[str, str, str]]:
    """Run ONE buffered merge-on-read epoch — a committed transaction, a
    straddler and a DDL — and return (job label, action, plan) for every
    Spark action the epoch issues on the driver thread: each collect (head
    goes through it) and each parquet write, planned just before it runs.
    The changelog write runs on its own thread and is left out."""
    import threading

    import pandas as pd
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    from mysql_time_machine_spark.config import EngineConfig
    from mysql_time_machine_spark.schema import EVENT_SCHEMA
    from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink
    from mysql_time_machine_spark.streaming.job import ApplyJob

    t0 = pd.Timestamp("2024-01-01")
    rows = []
    for op, txn, path, ddl in [
        ("BEGIN", 1, None, "BEGIN"), ("I", 1, "a", None), ("COMMIT", 1, None, "COMMIT"),
        ("DDL", -1, None, "ALTER TABLE repos ADD COLUMN extra varchar(64)"),
        ("BEGIN", 2, None, "BEGIN"), ("I", 2, "b", None),
    ]:
        g = len(rows) + 1
        rows.append(dict(
            log_file="binlog.000001", log_pos=g, gtid=f"u:{g}", gtid_seq=g, txn_id=txn,
            seq_in_txn=g, server_id=1, ts=t0, op=op, schema_version=1,
            repo="o" if path else None, path=path, before=None,
            after={"commit": "c0", "lang": "py", "content": path} if path else None,
            ddl=ddl,
        ))
    src = os.path.join(tmpdir, "epoch-0")
    spark.createDataFrame(pd.DataFrame(rows), schema=EVENT_SCHEMA).coalesce(1).write.parquet(src)
    batch = spark.read.schema(EVENT_SCHEMA).parquet(src)

    plans: list[tuple[str, str, str]] = []

    def record(action: str, df) -> None:
        if threading.current_thread() is threading.main_thread():
            label = spark.sparkContext.getLocalProperty("spark.job.description")
            plans.append((label, action, cap(f"{label} {action}", df)))

    collect, parquet = DataFrame.collect, DataFrameWriter.parquet

    def collect_spy(df):
        record("collect", df)
        return collect(df)

    def parquet_spy(writer, path, *a, **kw):
        record(f"write {os.path.basename(path)}", writer._df)
        return parquet(writer, path, *a, **kw)

    DataFrame.collect, DataFrameWriter.parquet = collect_spy, parquet_spy
    try:
        sink = ManifestParquetSink(
            spark, os.path.join(tmpdir, "sink"), n_buckets=4, merge_strategy="mor"
        )
        cfg = EngineConfig(shuffle_partitions=4, buffer_transactions=True)
        ApplyJob(spark, os.path.join(tmpdir, "binlog"), sink, cfg).process_batch(batch, 0)
    finally:
        DataFrame.collect, DataFrameWriter.parquet = collect, parquet
    return plans


def main() -> int:
    from pyspark.sql import functions as F

    from fixtures.gen_binlog import TYPED_COLUMNS, sql_mode_events, sql_mode_events_typed
    from mysql_time_machine_spark.config import EngineConfig
    from mysql_time_machine_spark.operators.ann import assign_centroids, brute_force_topk_batch
    from mysql_time_machine_spark.operators.dedup import (
        embedding_dup_pairs_ivf,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )
    from mysql_time_machine_spark.plans.replay import replay_batch
    from mysql_time_machine_spark.schema import BASE_COLUMNS
    from mysql_time_machine_spark.session import get_spark

    spark = get_spark("plan-snap", master="local[4]", shuffle_partitions=8)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    ev = sql_mode_events(spark, SF)

    out = [HEADER]
    out.append(cap(
        "CDC replay, pure-Catalyst cell-LWW (collapse_events_sql)",
        replay_batch(ev, list(BASE_COLUMNS), EngineConfig(), impl="sql"),
    ))
    out.append(cap(
        "CDC replay, sorted streaming kernel (collapse_events_sorted)",
        replay_batch(ev, list(BASE_COLUMNS), EngineConfig(), impl="sorted"),
    ))
    out.append(cap(
        "q1 pricing summary (pushdown + partial/final agg)",
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus").agg(F.sum("l_quantity").alias("s")),
    ))
    out.append(cap("simhash_pairs (pigeonhole-banded equi-join, leftmost-match)",
                   simhash_pairs(docs, max_hamming=4)))
    out.append(cap("ngram_jaccard_pairs (exploded length-bucket equi-join)",
                   ngram_jaccard_pairs(docs, threshold=0.2)))
    out.append(cap("assign_centroids (max_by argmin, partial/final aggregate)",
                   assign_centroids(emb, nlist=8)))
    out.append(cap(
        "cdc_replay_typed (typed materialize: ENUM/latin1/TIME2 decode in codegen)",
        replay_batch(sql_mode_events_typed(spark, SF), list(TYPED_COLUMNS),
                     EngineConfig(), impl="sql"),
    ))
    queries = emb.where(F.col("vec_id").isin(3, 7)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    out.append(cap(
        "brute_force_topk_batch (two-stage distributed top-k, no Window)",
        brute_force_topk_batch(emb, queries, k=5),
    ))
    out.append(cap("embedding_dup_pairs_ivf (centroid-cell blocked self-join)",
                   embedding_dup_pairs_ivf(emb, threshold=0.4, nlist=8)))
    from mysql_time_machine_spark.registry import SchemaRegistry, stamp_schema_version

    big_reg = SchemaRegistry(versions=[
        {"schema_version": i + 1, "valid_from_gtid_seq": i * 10, "ddl": None,
         "columns": [list(c) for c in BASE_COLUMNS]}
        for i in range(500)
    ])
    out.append(cap(
        "stamp_schema_version, 500-version fallback (broadcast range join — "
        "constant plan size; <=100 versions stays a codegen'd CASE fold)",
        stamp_schema_version(ev.select("gtid_seq"), big_reg),
    ))
    import tempfile

    from bench import with_txn_markers
    from mysql_time_machine_spark.streaming.txn_store import TxnPendingStore

    store = TxnPendingStore(tempfile.mkdtemp(prefix="plan_txnstore_"))
    released, _stats = store.resolve(with_txn_markers(ev, txn_width=10), epoch_id=0)
    out.append(cap(
        "txn pending-store resolve (jvm buffer: released rows; open-id "
        "routing via pushed-down isin / anti join; batch-complete rows pass "
        "through with NO added operator when nothing straddles)",
        released,
    ))
    # one buffered merge-on-read epoch, action by action: the fused control
    # aggregate and the one-job delta write, then the previous shapes
    actions = epoch_action_plans(spark, tempfile.mkdtemp(prefix="plan_epoch_"))
    out.append(
        "\n```\n=== one buffered merge-on-read epoch with a straddler and a "
        "DDL: the driver thread's actions, in order (the changelog write "
        "runs on its own thread) ===\n"
        + "\n".join(f"{label} {action}" for label, action, _ in actions)
        + "\n```\n"
    )
    for label, action, text in actions:
        if label == "mtm:txn-resolve" and action == "collect":
            out.append(text.replace(
                f"=== {label} {action} ===",
                "=== fused control aggregate (mtm:txn-resolve collect: ONE "
                "groupBy(txn_id) over transactions AND control events with "
                "per-group commit flag, last activity, row count and epoch "
                "stats; the final fold sums the stats of released groups — "
                "the epoch's only control action) ===",
            ))
        if action.endswith("-delta"):
            out.append(text.replace(
                f"=== {label} {action} ===",
                "=== merge-on-read delta write (ONE write action: Exchange "
                "hashpartitioning(_bucket) feeds CollectMetrics — the "
                "lineage Observation — then the partitioned write; the "
                "collapsed batch is neither cached nor collected, and the "
                "InMemoryRelation is the epoch cache of the released events "
                "that the changelog branch shares) ===",
            ))
    for name, title in [
        ("epoch_actions_before.txt", "the same epoch's driver-thread actions BEFORE the fusion"),
        ("control_plans_before.txt", "control plans BEFORE the fusion: the txn-resolve "
         "aggregate, the stats-agg groupBy(_class) over the released rows and the "
         "ddl-collect sort"),
        ("mor_merge_plans_before.txt", "merge-on-read merge BEFORE: the per-bucket stats "
         "collect over the persisted batch, then the delta write reading the cache"),
    ]:
        with open(os.path.join(REPO, "plans", "epoch_fuse", name)) as f:
            out.append(f"\n```\n=== {title} (kept for comparison) ===\n{f.read().rstrip()}\n```\n")
    from mysql_time_machine_spark.operators.reassemble import collapse_events_sql
    from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink

    mor = ManifestParquetSink(
        spark, tempfile.mkdtemp(prefix="plan_mor_"), n_buckets=4, merge_strategy="mor"
    )
    mid = ev.agg(F.max("gtid_seq")).head()[0] // 2
    mor.merge(collapse_events_sql(ev.where(F.col("gtid_seq") <= mid)), epoch_id=1)
    mor.merge(collapse_events_sql(ev.where(F.col("gtid_seq") > mid)), epoch_id=2)
    out.append(cap(
        "merge-on-read read(): base+delta resolution (ONE hash exchange on "
        "the key feeds ONE ObjectHashAggregate whose result folds each key's "
        "versions, sorted by commit ordinal, through the gtid fence and "
        "cell-wise LWW — no Window, no checkpoint, no joins, no Python; "
        "compaction folds deltas so steady reads skip all of this)",
        mor.read(),
    ))
    with open(os.path.join(REPO, "plans", "mor_fold", "cdc_mor_read_before.txt")) as f:
        before = f.read().rstrip()
    out.append(
        "\n```\n=== merge-on-read read(), BEFORE the keyed fold (kept for "
        "comparison, captured by this tool from the previous resolve: "
        "prefix-max fence Window, lazy localCheckpoint read back as Scan "
        "ExistingRDD, max_by last state, per-cell explode + aggregate, "
        "collect_list images, two SortMergeJoins) ===\n" + before + "\n```\n"
    )
    # minhash runs eagerly (stages + unpersists); snapshot the staged read's
    # provenance note instead of forcing a full run at snapshot time
    out.append(
        "\n```\n=== minhash_lsh_pairs ===\n"
        "(executes eagerly: banded (band,bucket) equi-join on id-only rows,\n"
        "verification join re-attaches shingles, result staged to parquet and\n"
        "signature cache unpersisted — see operators/dedup.py and the\n"
        "round-1 snapshot for the banded-join plan shape, unchanged)\n```\n"
    )
    # streaming minhash: run once on a tiny corpus so a real postings store
    # exists, then snapshot the candidate-lookup shape its _apply builds —
    # the scan must list ONLY the probed _bucket dirs (file-pruned store)
    from pyspark.sql import Row

    from mysql_time_machine_spark.operators.dedup import minhash_dedup_stream

    mh_root = tempfile.mkdtemp(prefix="plan_mhstream_")
    mh_src = os.path.join(mh_root, "drops")
    spark.createDataFrame(
        [
            Row(doc_id=i, text=f"alpha bravo charlie delta echo foxtrot golf v{i % 3} tail")
            for i in range(12)
        ]
    ).coalesce(1).write.parquet(mh_src)
    minhash_dedup_stream(
        spark, mh_src, sink_dir=os.path.join(mh_root, "sink"), threshold=0.2, n_buckets=8
    )
    import glob as _glob

    bands_store = os.path.join(mh_root, "sink", "bands")
    probed = sorted(_glob.glob(bands_store + "/_bucket=*"))[:2]
    postings = spark.read.option("basePath", bands_store).parquet(*probed)
    probe = spark.createDataFrame([Row(band=0, bucket="0" * 32, doc_id=99)])
    out.append(cap(
        "streaming minhash candidate lookup (minhash_dedup_stream._apply: the "
        "postings scan lists ONLY the batch's touched _bucket dirs — here 2 of "
        "8 — then a plain (band,bucket) hash join; verdicts and store growth "
        "are the same epoch-partitioned idempotent writes every sink uses)",
        probe.join(postings, ["band", "bucket"]),
    ))
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote BENCH/PLANS.md")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
