"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CDC replay at sf0.001.
``queries()`` exposes every SQL-expressible operator from SURVEY.md §2 plus
the training-data pipeline operators; ``oracle_sql()`` carries the DuckDB
twin for each (same column names, deterministic values).

Floating-point columns are rounded in BOTH engines so the driver's
value-hash compares equal despite summation-order differences.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def _cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CDC replay: snapshot + churn derived deterministically from
    (documents, events), collapsed by the engine, final state + sha256."""
    from fixtures.gen_binlog import sql_mode_events
    from mysql_time_machine_spark.config import EngineConfig
    from mysql_time_machine_spark.functions import content_sha256
    from mysql_time_machine_spark.plans.replay import replay_batch
    from mysql_time_machine_spark.schema import BASE_COLUMNS

    events = sql_mode_events(spark, sf_dir)
    final = replay_batch(events, list(BASE_COLUMNS), EngineConfig(), impl="pandas")
    return final.select(
        "repo", "path", "commit", "lang", "content", content_sha256().alias("content_sha256")
    )


def _cdc_replay_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed CDC replay: rich column types (ENUM / latin1 / TIME2 / long —
    CHANGES.txt:160,182,183) decoded through the registry-typed materialize
    path, with PARTIAL changed-cells updates (CHANGES.txt:173) and
    delete-resurrection, all under the value-hash gate. Runs the
    pure-Catalyst kernel (batch regime of the auto split)."""
    from fixtures.gen_binlog import TYPED_COLUMNS, sql_mode_events_typed
    from mysql_time_machine_spark.config import EngineConfig
    from mysql_time_machine_spark.functions import content_sha256
    from mysql_time_machine_spark.plans.replay import replay_batch

    events = sql_mode_events_typed(spark, sf_dir)
    final = replay_batch(events, list(TYPED_COLUMNS), EngineConfig(), impl="auto")
    return final.select(
        "repo", "path", "commit", "lang_enum", "note", "dur", "stars", "content",
        content_sha256().alias("content_sha256"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    return _cdc_replay(spark, SF_SMOKE)


# ---------------------------------------------------------------------------
# CDC / pipeline operators (SURVEY.md §2)
# ---------------------------------------------------------------------------


def _w1_lww_collapse(spark, sf_dir):
    """A2/W1: last-writer-wins per key over the events stream."""
    ev = _t(spark, sf_dir, "events")
    ord_ = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", ord_).alias("last_event_id"),
        F.max_by("event_type", ord_).alias("last_type"),
        F.round(F.max_by("value", ord_), 6).alias("last_value"),
        F.count("*").alias("n_versions"),
    )


def _a4_per_table_counters(spark, sf_dir):
    """A4: per-table counters + totals (CHANGES.txt:124)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.max("event_id").alias("max_event_id"),
    )


def _a6_daily_changes(spark, sf_dir):
    """A6: UTC daily-changes bucketing (CHANGES.txt:55,111,123)."""
    from mysql_time_machine_spark.functions import daily_bucket_utc

    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(daily_bucket_utc("ts").alias("day_utc")).agg(
        F.count("*").alias("n_changes"),
        F.count_distinct("user_id").alias("n_keys"),
    )


def _p10_salt_key(spark, sf_dir):
    """P10: the reference's salted row key, byte-exact (CHANGES.txt:102-104)."""
    from mysql_time_machine_spark.functions import salt_key

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        salt_key(F.col("user_id").cast("string"), F.col("event_type")).alias("salted_key"),
    )


def _p11_sha256(spark, sf_dir):
    """P11: per-row content sha256 — the build's correctness invariant."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.sha2("text", 256).alias("content_sha256"))


def _p3_blob_hex(spark, sf_dir):
    """P3: BLOB -> hex string (CHANGES.txt:161)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.hex(F.encode(F.substring("text", 1, 16), "UTF-8")).alias("hex16")
    )


def _p4_ts_epoch(spark, sf_dir):
    """P4: timestamp -> tz-independent epoch long (CHANGES.txt:162-163)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select("event_id", F.unix_timestamp("ts").alias("ts_epoch"))


def _p6_time2(spark, sf_dir):
    """P6: TIME2 fractional-second durations -> MySQL canonical text
    (CHANGES.txt:183). Signed micros derived deterministically per event."""
    from mysql_time_machine_spark.functions.core import time2_canonical

    ev = _t(spark, sf_dir, "events")
    micros = (F.col("event_id") * 1234567) % F.lit(3020399000000) - F.lit(1000000000000)
    return ev.select("event_id", time2_canonical(micros).alias("time2"))


def _p2_latin1(spark, sf_dir):
    """P2: latin1-sourced bytes (hex in the KV cell) -> UTF-8
    (CHANGES.txt:160). 0xE9 prepended so a non-ASCII byte is exercised."""
    from mysql_time_machine_spark.functions.core import latin1_decode

    docs = _t(spark, sf_dir, "documents")
    ascii_slice = F.regexp_replace(F.substring("text", 1, 12), "[^ -~]", "")
    hexed = F.concat(F.lit("E9"), F.hex(F.encode(ascii_slice, "UTF-8")))
    return docs.select("doc_id", latin1_decode(hexed).alias("decoded"))


def _p7_changed_cells(spark, sf_dir):
    """P7: emit only changed values (CHANGES.txt:173) — value vs previous
    per key, window-lag form."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_value", F.lag("value").over(w))
        .where(F.col("prev_value").isNull() | (F.col("value") != F.col("prev_value")))
        .select("event_id", "user_id", F.round("value", 6).alias("value"))
    )


def _w2_asof_resolution(spark, sf_dir):
    """W2/J0: as-of resolution — for each event, the latest 'signup'
    event at-or-before it for the same key (the schema-version-as-of shape)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return ev.select(
        "event_id",
        "user_id",
        F.max(F.when(F.col("event_type") == "signup", F.col("event_id"))).over(w).alias("asof_signup_id"),
    )


def _f1_table_filter(spark, sf_dir):
    """F1: table-regex replication filter (CHANGES.txt:41-42)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.where(F.col("lang").rlike("^(en|de)$")).select("doc_id", "lang")


def _s4_end_log_bound(spark, sf_dir):
    """S4: end-binlog-file bound (CHANGES.txt:129) — replay stops at the
    end of binlog.000001, i.e. the initial snapshot only; churn in
    binlog.000002 is never consumed."""
    from fixtures.gen_binlog import sql_mode_events
    from mysql_time_machine_spark.config import EngineConfig
    from mysql_time_machine_spark.plans.replay import replay_batch
    from mysql_time_machine_spark.schema import BASE_COLUMNS

    events = sql_mode_events(spark, sf_dir)
    final = replay_batch(
        events, list(BASE_COLUMNS), EngineConfig(end_log_file="binlog.000001"), impl="sql"
    )
    return final.select("repo", "path", "commit", "lang", "content")


def _f3_namespace_routing(spark, sf_dir):
    """F3: first-match regex namespace routing (HBase-namespace analogue)."""
    from mysql_time_machine_spark.functions import namespace_route

    docs = _t(spark, sf_dir, "documents")
    rules = [("^en$", "ns_english"), ("^(de|fr)$", "ns_euro")]
    return docs.select(
        "doc_id", namespace_route(F.col("lang"), rules).alias("namespace")
    )


def _f2_delta_allowlist(spark, sf_dir):
    """F2: delta-tables allowlist gate (CHANGES.txt:111,101)."""
    ev = _t(spark, sf_dir, "events")
    return ev.where(F.col("event_type").isin("click", "purchase")).groupBy("event_type").agg(
        F.count("*").alias("n")
    )


# ---------------------------------------------------------------------------
# analytic joins/aggregations (the snapshotter's batch-query layer)
# ---------------------------------------------------------------------------


def _q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def _q3_user_spend(spark, sf_dir):
    """Join muscle: customer ⋈ orders, segment rollup."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count_distinct("c_custkey").alias("n_customers"),
        )
    )


def _q5_regional_revenue(spark, sf_dir):
    """Multi-join muscle (TPC-H Q5 shape): revenue by nation within one
    region, local suppliers only — dims broadcast, one shuffled fact join."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    dims = (
        n.join(F.broadcast(r.where(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(dims), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def _events_enriched(spark, sf_dir):
    """Stream-static broadcast enrichment: events ⋈ customer dim."""
    ev = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer")
    return (
        ev.join(F.broadcast(c), ev.user_id == c.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators
# ---------------------------------------------------------------------------


def _dedup_exact(spark, sf_dir):
    from mysql_time_machine_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def _dedup_fingerprint(spark, sf_dir):
    from mysql_time_machine_spark.operators.dedup import fingerprint_dedup

    return fingerprint_dedup(_t(spark, sf_dir, "documents"))


def _dedup_ngram_jaccard(spark, sf_dir):
    from mysql_time_machine_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.2)
    return pairs.select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))


def _dedup_minhash_lsh(spark, sf_dir):
    from mysql_time_machine_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(_t(spark, sf_dir, "documents"), n_hashes=16, bands=4, threshold=0.2)
    return pairs.select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))


def _dedup_simhash(spark, sf_dir):
    from mysql_time_machine_spark.operators.dedup import simhash

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash("text").alias("simhash64"))


def _dedup_simhash_pairs(spark, sf_dir):
    """64-bit fingerprints at Hamming <= 4 — the standard web-dedup
    operating point for 64-bit SimHash (Manku et al., WWW'07, use k=3);
    the oracle is the deliberately-naive quadratic join, so the banded
    plan is checked for exact pair-set equality."""
    from mysql_time_machine_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=4)


def _dedup_embedding(spark, sf_dir):
    from mysql_time_machine_spark.operators.dedup import embedding_dup_pairs

    pairs = embedding_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)
    return pairs.select("a_id", "b_id", F.round("cos", 6).alias("cos"))


def _dedup_clusters(spark, sf_dir):
    """Pairs -> clusters: connected components over the MinHash-LSH
    near-dup graph; cluster_id = min reachable doc id (the keep-one-per-
    cluster decision)."""
    from mysql_time_machine_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(_t(spark, sf_dir, "documents"), n_hashes=16, bands=4, threshold=0.2)
    return connected_components(pairs)


def _dedup_embedding_ivf(spark, sf_dir):
    """Embedding near-dup blocked on the data-derived IVF centroid cell
    (no fixture label needed) — the 100-TB shape of dedup_embedding."""
    from mysql_time_machine_spark.operators.dedup import embedding_dup_pairs_ivf

    pairs = embedding_dup_pairs_ivf(_t(spark, sf_dir, "embeddings"), threshold=0.4, nlist=8)
    return pairs.select("a_id", "b_id", F.round("cos", 6).alias("cos"))


def _sim_bruteforce_topk(spark, sf_dir):
    from mysql_time_machine_spark.operators.ann import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 7).head()["embedding"]
    top = brute_force_topk(emb, list(q), k=20)
    return top.select("vec_id", F.round("score", 6).alias("score"))


def _sim_ivf_assign(spark, sf_dir):
    from mysql_time_machine_spark.operators.ann import assign_centroids

    emb = _t(spark, sf_dir, "embeddings")
    return assign_centroids(emb, nlist=8).select("vec_id", "centroid_id")


def _sim_topk_batch(spark, sf_dir):
    """Batched exact top-k: three query vectors answered in ONE job via the
    two-stage distributed top-k (partition-local k, then merge of P*k
    candidates per query) — no Window, no per-query scans."""
    from mysql_time_machine_spark.operators.ann import brute_force_topk_batch

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin(3, 7, 11)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = brute_force_topk_batch(emb, queries, k=10)
    return top.select("query_id", "vec_id", F.round("score", 6).alias("score"))


def _sim_ivf_topk_clustered(spark, sf_dir):
    """IVF with the index layout ON DISK: table partitioned by centroid_id
    + sidecar centroid file; the probe prunes unprobed cells at the file
    level (partition pruning), then exact cosine top-k over the survivors."""
    import hashlib
    import tempfile

    from mysql_time_machine_spark.operators.ann import ivf_topk_clustered, write_clustered

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 7).head()["embedding"]
    # deterministic per-sf staging dir, overwritten on re-run (no tempdir
    # accumulation across driver invocations)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"{tempfile.gettempdir()}/mtm_ivf_clustered_{tag}/clustered"
    write_clustered(emb, path, nlist=8)
    top = ivf_topk_clustered(spark, path, list(q), k=20, nprobe=2)
    return top.select("vec_id", F.round("score", 6).alias("score"))


def _sim_kmeans_assign(spark, sf_dir):
    """Assignment under kmeans_centroids (2 deterministic Lloyd iterations
    from the first-nlist seeds). The oracle unrolls the same two
    assign->mean rounds in SQL, with the float32 centroid cast and the
    empty-cluster-keeps-previous rule mirrored exactly."""
    from mysql_time_machine_spark.operators.ann import assign_centroids, kmeans_centroids

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, nlist=8, iters=2)
    return assign_centroids(emb, nlist=8, centroids=cents).select("vec_id", "centroid_id")


def _sim_kmeanspp_assign(spark, sf_dir):
    """Assignment under the deterministic k-means++-style seeds
    (farthest-first traversal: md5-ordered first pick, then argmax
    distance to the chosen set). No RNG and no transcendental sampling
    math, so the unrolled DuckDB twin reproduces the seeds bit-for-bit."""
    from mysql_time_machine_spark.operators.ann import assign_centroids, seed_centroids_pp

    emb = _t(spark, sf_dir, "embeddings")
    cents = seed_centroids_pp(emb, nlist=8)
    return assign_centroids(emb, nlist=8, centroids=cents).select("vec_id", "centroid_id")


def _sim_kmeanspar_assign(spark, sf_dir):
    """Assignment under the k-means||-style parallel seeds (Bahmani et al.
    2012 shape: md5-hash Bernoulli oversampling rounds + cluster-size-
    weighted greedy farthest-first reduce). Every quantity — the hash
    draws, costs, weights, and reduce scores — is an exact left-to-right
    float function of the data, so for the fixed (nlist=4, oversample=8,
    rounds=2) the WHOLE seeding unrolls into the DuckDB twin
    bit-for-bit."""
    from mysql_time_machine_spark.operators.ann import (
        assign_centroids,
        seed_centroids_parallel,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = seed_centroids_parallel(emb, nlist=4, oversample=8, rounds=2)
    return assign_centroids(emb, nlist=4, centroids=cents).select(
        "vec_id", "centroid_id"
    )


def _text_langid(spark, sf_dir):
    from mysql_time_machine_spark.functions.text import lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id("text").alias("lang_guess"))


def _text_quality(spark, sf_dir):
    from mysql_time_machine_spark.functions.text import punct_ratio, quality_score, stopword_ratio

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(stopword_ratio("text"), 6).alias("stopword_ratio"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(quality_score("text"), 6).alias("quality"),
    )


def _text_token_count(spark, sf_dir):
    from mysql_time_machine_spark.functions.text import bpe_ish_token_count, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )


def _text_fingerprint(spark, sf_dir):
    from mysql_time_machine_spark.functions.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


def _curate_verdicts(spark, sf_dir):
    """Composed curation pipeline: exact-dup canonicalization + language
    gate + quality gate, one verdict per document with the reason."""
    from mysql_time_machine_spark.operators.curate import curate

    return curate(_t(spark, sf_dir, "documents"), min_quality=0.5, langs=("en", "de"))


def _dedup_stream_exact(spark, sf_dir):
    """Streaming exact dedup through the PRODUCTION sink: file-source
    readStream over the corpus, stateful md5-groupBy aggregate in update
    mode, foreachBatch upsert into a text_md5-bucketed Parquet store
    (bucket-granular copy-on-write — no driver-resident result table);
    the returned DataFrame READS THE STORE, and its final state is
    byte-equal to the batch aggregate (the oracle)."""
    import hashlib
    import shutil
    import tempfile

    from mysql_time_machine_spark.operators.dedup import exact_dedup_stream

    import os

    # pid in the tag: a concurrent driver over the same sf_dir must not
    # rmtree a live sibling's store/checkpoint; same-process re-runs still
    # reuse (and reset) one deterministic dir — no tempdir accumulation
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    sink_dir = f"{tempfile.gettempdir()}/mtm_dedup_stream_{tag}_{os.getpid()}"
    # fresh run per driver invocation: the checkpoint would otherwise skip
    # already-processed files and the gate would read a stale store
    shutil.rmtree(sink_dir, ignore_errors=True)
    return exact_dedup_stream(spark, f"{sf_dir}/documents.parquet", sink_dir=sink_dir)


def _dedup_stream_minhash(spark, sf_dir):
    """Streaming NEAR-dup dedup through the incremental MinHash-LSH index
    (``minhash_dedup_stream``): the corpus is split into three
    doc_id-ordered drop files and streamed one file per trigger, so the
    run genuinely exercises multi-batch index growth — batch 1 indexes a
    cold store, batches 2-3 band-join their arrivals against the postings
    written by earlier batches (bucket-pruned reads). The final verdict
    table is a pure function of the corpus: dup_of = min earlier
    band-sharing doc with true shingle Jaccard >= t — exactly what the
    batch LSH oracle computes, so convergence of the incremental path to
    the one-shot answer is the gated property."""
    import hashlib
    import os
    import shutil
    import tempfile

    from mysql_time_machine_spark.operators.dedup import minhash_dedup_stream

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"{tempfile.gettempdir()}/mtm_minhash_stream_{tag}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents")
    b1, b2 = docs.approxQuantile("doc_id", [1 / 3, 2 / 3], 0.0)
    drops = os.path.join(root, "drops")
    os.makedirs(drops)
    cuts = [(None, b1), (b1, b2), (b2, None)]
    for i, (lo, hi) in enumerate(cuts):
        part = docs
        if lo is not None:
            part = part.where(F.col("doc_id") > lo)
        if hi is not None:
            part = part.where(F.col("doc_id") <= hi)
        staged = os.path.join(root, f"_stage{i}")
        part.coalesce(1).write.mode("overwrite").parquet(staged)
        src = [f for f in os.listdir(staged) if f.endswith(".parquet")][0]
        shutil.move(os.path.join(staged, src), os.path.join(drops, f"drop-{i:03d}.parquet"))
    out = minhash_dedup_stream(
        spark,
        drops,
        sink_dir=os.path.join(root, "sink"),
        n_hashes=16,
        bands=4,
        threshold=0.2,
        max_files_per_trigger=1,
    )
    return out.select("doc_id", "dup_of", "kept")


def _curate_with_neardup(spark, sf_dir):
    """The full curation ladder with the near-dup tier plugged in:
    exact-dup canon > MinHash-LSH + connected-components cluster losers
    ('near_dup') > language gate > quality gate. Composes three package
    primitives end-to-end under one oracle."""
    from mysql_time_machine_spark.operators.curate import curate
    from mysql_time_machine_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    clusters = connected_components(
        minhash_lsh_pairs(docs, n_hashes=16, bands=4, threshold=0.2)
    )
    return curate(docs, min_quality=0.5, langs=("en", "de"), clusters=clusters)


def _cdc_mor_read(spark, sf_dir):
    """S5/J1 through ``merge_strategy='mor'``: the sql-mode churn cut into
    three gtid-range epochs, each collapsed by the Catalyst kernel and
    MERGEd as merge-on-read DELTA files through the production manifest
    sink (write cost ∝ batch, not table — the 100-TB frequent-trigger
    shape). The returned DataFrame is ``sink.read()`` — the read-side
    base+delta resolution (one per-key fold in commit order: gtid fence +
    cell-wise LWW) — which must equal the one-shot batch replay's final state:
    the SAME oracle as cdc_replay_final_state gates it."""
    import hashlib
    import os
    import shutil
    import tempfile

    from fixtures.gen_binlog import sql_mode_events
    from mysql_time_machine_spark.functions import content_sha256
    from mysql_time_machine_spark.operators.reassemble import collapse_events_sql
    from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink

    ev = sql_mode_events(spark, sf_dir)
    hi = ev.agg(F.max("gtid_seq")).head()[0]
    b1, b2 = hi // 3, (2 * hi) // 3
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"{tempfile.gettempdir()}/mtm_mor_read_{tag}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    sink = ManifestParquetSink(spark, root, n_buckets=8, merge_strategy="mor")
    for epoch_id, (lo, up) in enumerate([(None, b1), (b1, b2), (b2, None)], start=1):
        ep = ev
        if lo is not None:
            ep = ep.where(F.col("gtid_seq") > lo)
        if up is not None:
            ep = ep.where(F.col("gtid_seq") <= up)
        sink.merge(collapse_events_sql(ep), epoch_id=epoch_id)
    return sink.read().select(
        "repo", "path", "commit", "lang", "content",
        content_sha256().alias("content_sha256"),
    )


def _mm_media_features(spark, sf_dir):
    from mysql_time_machine_spark.operators.multimodal import extract_features, media_from_documents

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    return extract_features(media).select("media_id", "kind", "n_bytes", "payload_md5")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_replay_final_state": _cdc_replay,
        "cdc_replay_typed": _cdc_replay_typed,
        "w1_lww_collapse": _w1_lww_collapse,
        "a4_per_table_counters": _a4_per_table_counters,
        "a6_daily_changes": _a6_daily_changes,
        "p10_salt_key": _p10_salt_key,
        "p11_sha256": _p11_sha256,
        "p3_blob_hex": _p3_blob_hex,
        "p4_ts_epoch": _p4_ts_epoch,
        "p6_time2": _p6_time2,
        "p2_latin1": _p2_latin1,
        "p7_changed_cells": _p7_changed_cells,
        "w2_asof_resolution": _w2_asof_resolution,
        "f1_table_filter": _f1_table_filter,
        "f2_delta_allowlist": _f2_delta_allowlist,
        "s4_end_log_bound": _s4_end_log_bound,
        "f3_namespace_routing": _f3_namespace_routing,
        "q1_pricing_summary": _q1_pricing_summary,
        "q3_user_spend": _q3_user_spend,
        "q5_regional_revenue": _q5_regional_revenue,
        "events_enriched": _events_enriched,
        "dedup_exact": _dedup_exact,
        "dedup_fingerprint": _dedup_fingerprint,
        "dedup_ngram_jaccard": _dedup_ngram_jaccard,
        "dedup_minhash_lsh": _dedup_minhash_lsh,
        "dedup_simhash": _dedup_simhash,
        "dedup_simhash_pairs": _dedup_simhash_pairs,
        "dedup_clusters": _dedup_clusters,
        "dedup_embedding": _dedup_embedding,
        "dedup_embedding_ivf": _dedup_embedding_ivf,
        "sim_bruteforce_topk": _sim_bruteforce_topk,
        "sim_ivf_assign": _sim_ivf_assign,
        "sim_topk_batch": _sim_topk_batch,
        "sim_ivf_topk_clustered": _sim_ivf_topk_clustered,
        "sim_kmeans_assign": _sim_kmeans_assign,
        "sim_kmeanspp_assign": _sim_kmeanspp_assign,
        "sim_kmeanspar_assign": _sim_kmeanspar_assign,
        "text_langid": _text_langid,
        "text_quality": _text_quality,
        "text_token_count": _text_token_count,
        "text_fingerprint": _text_fingerprint,
        "curate_verdicts": _curate_verdicts,
        "curate_with_neardup": _curate_with_neardup,
        "dedup_stream_exact": _dedup_stream_exact,
        "dedup_stream_minhash": _dedup_stream_minhash,
        "cdc_mor_read": _cdc_mor_read,
        "mm_media_features": _mm_media_features,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# shared SQL fragments (must mirror mysql_time_machine_spark.functions.text)
_TOKENS = "list_filter(string_split_regex(lower({c}), '[^a-z0-9]+'), t -> t != '')"
_STOP = {
    "en": "['the','and','of','to','in','is','that','for','with','as']",
    "de": "['der','die','das','und','ist','von','mit','auf','ein','zu']",
    "es": "['el','la','de','que','y','en','un','es','por','con']",
    "fr": "['le','la','de','et','les','des','est','un','une','dans']",
}


def _sql_shingles(c: str = "text", n: int = 3) -> str:
    t = _TOKENS.format(c=c)
    return f"""(
      CASE WHEN len({t}) >= {n}
        THEN list_distinct(list_transform(
               range(1, len({t}) - {n} + 2),
               i -> array_to_string(list_slice({t}, i, i + {n} - 1), ' ')))
        ELSE [array_to_string({t}, ' ')]
      END)"""


def _sql_hex8_to_int(expr: str, start: int = 1) -> str:
    """8 hex chars of md5 starting at ``start`` -> BIGINT, via digit
    positions (DuckDB has no conv())."""
    terms = []
    for i in range(8):
        mult = 16 ** (7 - i)
        terms.append(
            f"(strpos('0123456789abcdef', substr({expr}, {start + i}, 1)) - 1) * {mult}"
        )
    return "(" + " + ".join(terms) + ")"


def _sql_hash64(expr: str) -> str:
    """First 16 hex chars of an md5 digest -> the full 64-bit value as a
    SIGNED BIGINT — the exact DuckDB twin of the Spark engine's
    ``_md5_hex16_to_long`` (dedup.py): high half sign-adjusted before the
    multiply so no intermediate overflows, result is two's complement."""
    hi = _sql_hex8_to_int(expr, 1)
    lo = _sql_hex8_to_int(expr, 9)
    return (
        f"((CASE WHEN {hi} >= 2147483648 THEN {hi} - 4294967296 ELSE {hi} END)"
        f" * 4294967296 + {lo})"
    )


def _sql_simhash(c: str = "text") -> str:
    """64-bit SimHash twin. Bit tests use `&` (two's-complement-exact on
    negative BIGINTs, unlike `//`/`%`); bit 63 is tested as `h < 0` and
    contributes the signed representation of 2^63, placed FIRST in the sum
    so every partial sum stays inside the signed range."""
    t = f"list_distinct({_TOKENS.format(c=c)})"
    h = _sql_hash64("md5(t)")
    hs = f"list_transform({t}, t -> {h})"
    bits = []
    top = 1 << 63
    bits.append(
        f"(CASE WHEN list_sum(list_transform({hs}, h -> CASE WHEN h < 0 THEN 1 ELSE -1 END)) > 0 THEN (-{top})::BIGINT ELSE 0 END)"
    )
    for bit in range(63):
        p = 2**bit
        bits.append(
            f"(CASE WHEN list_sum(list_transform({hs}, h -> CASE WHEN (h & {p}) != 0 THEN 1 ELSE -1 END)) > 0 THEN {p} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")::BIGINT"


def _sql_langid(c: str = "text") -> str:
    t = _TOKENS.format(c=c)
    scores = {
        lang: f"len(list_filter({t}, t -> list_contains({arr}, t)))" for lang, arr in _STOP.items()
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "".join(
        f" WHEN {best} > 0 AND {scores[lang]} = {best} THEN '{lang}'" for lang in _STOP
    )
    return f"(CASE{whens} ELSE 'und' END)"


_N_ORGS = 20


def oracle_sql() -> dict[str, str]:
    from fixtures.gen_binlog import SQL_MODE_FINAL_STATE_SQL, SQL_MODE_TYPED_FINAL_STATE_SQL

    t = _TOKENS.format(c="text")
    sw_en = _STOP["en"]
    stopword_ratio = f"(len(list_filter({t}, t -> list_contains({sw_en}, t))) / greatest(len({t}), 1))"
    punct = """(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{}]', '', 'g')) / greatest(length(text), 1))"""
    quality = f"""(
        (CASE WHEN len({t}) BETWEEN 10 AND 5000 THEN 1.0 ELSE 0.3 END) * 0.4
      + (CASE WHEN {stopword_ratio} BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.4 END) * 0.4
      + (CASE WHEN {punct} <= 0.2 THEN 1.0 ELSE 0.5 END) * 0.2)"""

    # explicit left-to-right double cosine — bit-compatible with the Spark
    # F.aggregate fold (DuckDB's list_cosine_similarity accumulates
    # differently and diverges at the 7th decimal)
    def _cos(a: str, b: str) -> str:
        return (
            f"(list_sum(list_transform(list_zip({a}, {b}), x -> x[1]::DOUBLE * x[2]::DOUBLE))"
            f" / (sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
            f" * sqrt(list_sum(list_transform({b}, x -> x::DOUBLE * x::DOUBLE)))))"
        )

    # unrolled farthest-first (k-means++-style) seeding: center 0 is the
    # md5-ordered pick; center k is the point with the LOWEST max-cosine to
    # centers 0..k-1 (ties -> lowest vec_id). Exact twin of
    # ann.seed_centroids_pp — every value is an exact function of the data.
    def _sql_kmeanspp(nlist: int) -> str:
        ctes = [
            "c0 AS (SELECT 0 AS cid, embedding AS cv FROM embeddings"
            " ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 1)",
            "cents1 AS (SELECT * FROM c0)",
        ]
        for k in range(1, nlist):
            ctes.append(
                f"""c{k} AS (
                SELECT {k} AS cid, emb AS cv FROM (
                    SELECT e.vec_id, any_value(e.embedding) AS emb,
                           max({_cos("e.embedding", "c.cv")}) AS mc
                    FROM embeddings e CROSS JOIN cents{k} c
                    GROUP BY e.vec_id ORDER BY mc, e.vec_id LIMIT 1))"""
            )
            ctes.append(
                f"cents{k + 1} AS (SELECT * FROM cents{k} UNION ALL SELECT * FROM c{k})"
            )
        return f"""
            WITH {", ".join(ctes)}
            SELECT vec_id, cid AS centroid_id FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {_cos("e.embedding", "c.cv")} DESC, c.cid) AS rn
                FROM embeddings e CROSS JOIN cents{nlist} c) WHERE rn = 1
        """

    # unrolled k-means|| seeding (ann.seed_centroids_parallel): `rounds`
    # hash-Bernoulli oversampling rounds grow a candidate pool from the
    # md5-ordered first pick; candidates are weighted by the population
    # they attract, then reduced by weighted greedy farthest-first (nlist
    # - 1 unrolled steps). The draw u = hex12(md5(id ':' r)) / 16^12 and
    # every cost/score use left-to-right float sums — the exact
    # arithmetic the Spark side computes.
    def _sql_hexn_to_int(expr: str, start: int, n: int) -> str:
        terms = [
            f"(strpos('0123456789abcdef', substr({expr}, {start + i}, 1)) - 1)"
            f" * {16 ** (n - 1 - i)}"
            for i in range(n)
        ]
        return "(" + " + ".join(terms) + ")"

    def _sql_kmeanspar(nlist: int, l: int, rounds: int) -> str:
        ctes = [
            "p0 AS (SELECT vec_id, embedding AS v FROM embeddings"
            " ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 1)",
            "pool0 AS (SELECT * FROM p0)",
        ]
        for r in range(rounds):
            u = (
                _sql_hexn_to_int(f"md5(t.vec_id::VARCHAR || ':{r}')", 1, 12)
                + f"::DOUBLE / {float(16 ** 12)!r}"
            )
            ctes.append(
                f"""cost{r} AS (
                SELECT e.vec_id, any_value(e.embedding) AS v,
                       greatest(0.0, 1.0 - max({_cos("e.embedding", "p.v")})) AS c
                FROM embeddings e CROSS JOIN pool{r} p GROUP BY e.vec_id)"""
            )
            ctes.append(f"phi{r} AS (SELECT sum(c) AS phi FROM cost{r})")
            ctes.append(
                f"""pick{r} AS (
                SELECT t.vec_id, t.v FROM cost{r} t, phi{r}
                WHERE {u} < {float(l)!r} * t.c / phi
                  AND t.vec_id NOT IN (SELECT vec_id FROM pool{r}))"""
            )
            ctes.append(
                f"pool{r + 1} AS (SELECT * FROM pool{r} UNION ALL SELECT * FROM pick{r})"
            )
        ctes += [
            f"cand AS (SELECT vec_id, v,"
            f" row_number() OVER (ORDER BY vec_id) - 1 AS idx FROM pool{rounds})",
            f"""assignw AS (
                SELECT e.vec_id, c.idx,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {_cos("e.embedding", "c.v")} DESC, c.idx) AS rn
                FROM embeddings e CROSS JOIN cand c)""",
            "wts AS (SELECT idx, count(*)::DOUBLE AS wt FROM assignw"
            " WHERE rn = 1 GROUP BY idx)",
            "cw AS (SELECT c.idx, c.v, coalesce(w.wt, 0.0) AS wt"
            " FROM cand c LEFT JOIN wts w USING (idx))",
            "ch1 AS (SELECT c.idx, 0 AS ord FROM cand c JOIN p0 USING (vec_id))",
        ]
        for k in range(1, nlist):
            ctes.append(
                f"""st{k} AS (
                SELECT t.idx, {k} AS ord FROM (
                    SELECT cw.idx,
                           any_value(cw.wt)
                             * greatest(0.0, 1.0 - max({_cos("cw.v", "cv.v")})) AS score
                    FROM cw CROSS JOIN (SELECT c2.v FROM ch{k} j
                                        JOIN cand c2 ON c2.idx = j.idx) cv
                    WHERE cw.idx NOT IN (SELECT idx FROM ch{k})
                    GROUP BY cw.idx
                    ORDER BY score DESC, cw.idx LIMIT 1) t)"""
            )
            ctes.append(
                f"ch{k + 1} AS (SELECT * FROM ch{k} UNION ALL SELECT * FROM st{k})"
            )
        return f"""
            WITH {", ".join(ctes)}
            SELECT vec_id, ord AS centroid_id FROM (
                SELECT e.vec_id, f.ord,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY {_cos("e.embedding", "c.v")} DESC, f.ord) AS rn
                FROM embeddings e CROSS JOIN (ch{nlist} f
                  JOIN cand c ON c.idx = f.idx)) WHERE rn = 1
        """

    shingles = _sql_shingles()
    jaccard = (
        "len(list_intersect(a.sh, b.sh))::DOUBLE / "
        "greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)"
    )

    minhash_sig = (
        "["
        + ", ".join(
            f"list_min(list_transform(shm, m -> md5('{k}:' || m)))" for k in range(16)
        )
        + "]"
    )
    band_buckets = (
        "["
        + ", ".join(
            f"struct_pack(band := {bi}, bucket := md5(array_to_string(list_slice(mh, {bi * 4 + 1}, {bi * 4 + 4}), '|')))"
            for bi in range(4)
        )
        + "]"
    )

    # shared by dedup_minhash_lsh and dedup_clusters
    _LSH_CTES = f"""sh AS (
                SELECT doc_id AS id, {_sql_shingles()} AS sh FROM documents),
            sig AS (
                SELECT id, sh, {minhash_sig} AS mh
                FROM (SELECT id, sh, list_transform(sh, s -> md5(s)) AS shm FROM sh)),
            banded AS (
                SELECT id, sh, bb.band AS band, bb.bucket AS bucket
                FROM (SELECT id, sh, unnest({band_buckets}) AS bb FROM sig)),
            cand AS (
                SELECT DISTINCT a.id AS a_id, b.id AS b_id,
                       any_value(a.sh) AS a_sh, any_value(b.sh) AS b_sh
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
                GROUP BY a.id, b.id)"""
    _LSH_PAIRS_SELECT = """SELECT a_id, b_id,
                   round(len(list_intersect(a_sh, b_sh))::DOUBLE /
                         greatest(len(list_distinct(list_concat(a_sh, b_sh))), 1), 6) AS jaccard
            FROM cand
            WHERE len(list_intersect(a_sh, b_sh))::DOUBLE /
                  greatest(len(list_distinct(list_concat(a_sh, b_sh))), 1) >= 0.2"""

    return {
        "cdc_replay_final_state": SQL_MODE_FINAL_STATE_SQL,
        # epoch-cut + MoR delta resolution must converge to the same final
        # state as the one-shot replay — the strongest possible oracle is
        # literally the replay oracle
        "cdc_mor_read": SQL_MODE_FINAL_STATE_SQL,
        "cdc_replay_typed": SQL_MODE_TYPED_FINAL_STATE_SQL,
        "w1_lww_collapse": """
            SELECT user_id, last_event_id, last_type, last_value, n_versions FROM (
                SELECT user_id,
                       event_id AS last_event_id,
                       event_type AS last_type,
                       round(value, 6) AS last_value,
                       count(*) OVER (PARTITION BY user_id) AS n_versions,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM events)
            WHERE rn = 1
        """,
        "a4_per_table_counters": """
            SELECT event_type, count(*) AS n_events,
                   round(sum(value), 4) AS sum_value,
                   max(event_id) AS max_event_id
            FROM events GROUP BY event_type
        """,
        "a6_daily_changes": """
            SELECT strftime(ts, '%Y%m%d') AS day_utc,
                   count(*) AS n_changes,
                   count(DISTINCT user_id) AS n_keys
            FROM events GROUP BY 1
        """,
        "p10_salt_key": """
            SELECT event_id,
                   substr(md5(user_id || ';' || event_type), 1, 8) || ';' ||
                   user_id || ';' || event_type AS salted_key
            FROM events
        """,
        "p11_sha256": "SELECT doc_id, sha256(text) AS content_sha256 FROM documents",
        "p3_blob_hex": "SELECT doc_id, upper(hex(substr(text, 1, 16))) AS hex16 FROM documents",
        # floor, not round: Spark unix_timestamp truncates sub-second parts
        "p4_ts_epoch": "SELECT event_id, floor(epoch(ts))::BIGINT AS ts_epoch FROM events",
        "p6_time2": """
            SELECT event_id,
                   printf('%s%02d:%02d:%02d.%06d',
                          CASE WHEN v < 0 THEN '-' ELSE '' END,
                          abs(v) // 3600000000,
                          (abs(v) // 60000000) % 60,
                          (abs(v) // 1000000) % 60,
                          abs(v) % 1000000) AS time2
            FROM (SELECT event_id,
                         (event_id * 1234567) % 3020399000000 - 1000000000000 AS v
                  FROM events)
        """,
        "p2_latin1": """
            SELECT doc_id,
                   chr(233) || regexp_replace(substr(text, 1, 12), '[^ -~]', '', 'g') AS decoded
            FROM documents
        """,
        "p7_changed_cells": """
            SELECT event_id, user_id, round(value, 6) AS value FROM (
                SELECT event_id, user_id, value,
                       lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
                FROM events)
            WHERE prev_value IS NULL OR value != prev_value
        """,
        "w2_asof_resolution": """
            SELECT event_id, user_id,
                   max(CASE WHEN event_type = 'signup' THEN event_id END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_signup_id
            FROM events
        """,
        "f1_table_filter": "SELECT doc_id, lang FROM documents WHERE regexp_matches(lang, '^(en|de)$')",
        "s4_end_log_bound": f"""
            SELECT 'org' || (doc_id % {_N_ORGS}) AS repo,
                   'src/doc_' || doc_id || '.txt' AS path,
                   md5('c0:' || doc_id) AS commit,
                   lang, text AS content
            FROM documents
        """,
        "f3_namespace_routing": """
            SELECT doc_id,
                   CASE WHEN regexp_matches(lang, '^en$') THEN 'ns_english'
                        WHEN regexp_matches(lang, '^(de|fr)$') THEN 'ns_euro'
                        ELSE 'default' END AS namespace
            FROM documents
        """,
        "f2_delta_allowlist": """
            SELECT event_type, count(*) AS n FROM events
            WHERE event_type IN ('click', 'purchase') GROUP BY event_type
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_user_spend": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(DISTINCT c_custkey) AS n_customers
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "q5_regional_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
            GROUP BY n_name
        """,
        "events_enriched": """
            SELECT c_mktsegment, event_type, count(*) AS n,
                   round(sum(value), 4) AS sum_value
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY c_mktsegment, event_type
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_md5, min(doc_id) AS canonical_id,
                   count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        # the streaming fold must converge to exactly the batch aggregate
        "dedup_stream_exact": """
            SELECT md5(text) AS text_md5, min(doc_id) AS canonical_id,
                   count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """,
        # the incremental LSH index must converge to the batch rule:
        # dup_of = min earlier band-sharing doc with Jaccard >= t
        "dedup_stream_minhash": f"""
            WITH {_LSH_CTES},
            lsh_pairs AS ({_LSH_PAIRS_SELECT})
            SELECT d.doc_id, p.dup_of, p.dup_of IS NULL AS kept
            FROM documents d
            LEFT JOIN (SELECT b_id AS doc_id, min(a_id) AS dup_of
                       FROM lsh_pairs GROUP BY b_id) p USING (doc_id)
        """,
        "dedup_fingerprint": f"""
            SELECT md5(array_to_string({t}, ' ')) AS fp,
                   min(doc_id) AS canonical_id, count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "dedup_ngram_jaccard": f"""
            WITH sh AS (
                SELECT doc_id AS id, lang, {shingles} AS sh,
                       length(text) // 64 AS lb
                FROM documents)
            SELECT a.id AS a_id, b.id AS b_id,
                   round({jaccard}, 6) AS jaccard
            FROM sh a JOIN sh b
              ON a.id < b.id AND a.lang = b.lang AND abs(a.lb - b.lb) <= 1
            WHERE {jaccard} >= 0.2
        """,
        "dedup_minhash_lsh": f"""
            WITH {_LSH_CTES}
            {_LSH_PAIRS_SELECT}
        """,
        # clusters: recursive transitive closure over the SAME LSH pair
        # graph (fine at oracle scale; the Spark side iterates min-label
        # propagation instead)
        "dedup_clusters": f"""
            WITH RECURSIVE {_LSH_CTES},
            lsh_pairs AS ({_LSH_PAIRS_SELECT}),
            edges AS (
                SELECT a_id AS u, b_id AS v FROM lsh_pairs
                UNION
                SELECT b_id, a_id FROM lsh_pairs),
            reach(u, v) AS (
                SELECT u, v FROM edges
                UNION
                SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
            SELECT u AS id, least(u, min(v)) AS cluster_id
            FROM reach GROUP BY u
        """,
        "dedup_simhash": f"SELECT doc_id, {_sql_simhash()} AS simhash64 FROM documents",
        # the oracle is intentionally the naive quadratic join — it checks
        # the banded Spark plan finds EXACTLY the same pairs
        "dedup_simhash_pairs": f"""
            WITH h AS (SELECT doc_id AS id, lang, {_sql_simhash()} AS h FROM documents)
            SELECT a.id AS a_id, b.id AS b_id,
                   bit_count(xor(a.h, b.h)) AS hamming
            FROM h a JOIN h b ON a.lang = b.lang AND a.id < b.id
            WHERE bit_count(xor(a.h, b.h)) <= 4
        """,
        "dedup_embedding": f"""
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   round({_cos("a.embedding", "b.embedding")}, 6) AS cos
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE {_cos("a.embedding", "b.embedding")} >= 0.4
        """,
        "dedup_embedding_ivf": f"""
            WITH cents AS (
                SELECT vec_id AS centroid_id, embedding AS cvec
                FROM embeddings WHERE vec_id < 8),
            scored AS (
                SELECT e.vec_id, e.embedding, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC,
                                    c.centroid_id) AS rn
                FROM embeddings e CROSS JOIN cents c),
            assigned AS (SELECT vec_id, embedding, centroid_id FROM scored WHERE rn = 1)
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   round({_cos("a.embedding", "b.embedding")}, 6) AS cos
            FROM assigned a JOIN assigned b
              ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
            WHERE {_cos("a.embedding", "b.embedding")} >= 0.4
        """,
        "sim_bruteforce_topk": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7)
            SELECT vec_id, round({_cos("embedding", "qv")}, 6) AS score
            FROM embeddings, q
            ORDER BY {_cos("embedding", "qv")} DESC, vec_id
            LIMIT 20
        """,
        "sim_topk_batch": f"""
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id IN (3, 7, 11))
            SELECT query_id, vec_id, round({_cos("e.embedding", "q.qv")}, 6) AS score
            FROM embeddings e CROSS JOIN q
            QUALIFY row_number() OVER (
                PARTITION BY query_id
                ORDER BY {_cos("e.embedding", "q.qv")} DESC, e.vec_id) <= 10
        """,
        "sim_ivf_topk_clustered": f"""
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
            cents AS (
                SELECT vec_id AS centroid_id, embedding AS cvec
                FROM embeddings WHERE vec_id < 8),
            assigned AS (
                SELECT vec_id, centroid_id FROM (
                    SELECT e.vec_id, c.centroid_id,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY {_cos("e.embedding", "c.cvec")} DESC,
                                        c.centroid_id) AS rn
                    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
            probed AS (
                SELECT centroid_id FROM cents, q
                ORDER BY {_cos("cvec", "qv")} DESC, centroid_id LIMIT 2)
            SELECT e.vec_id, round({_cos("e.embedding", "q.qv")}, 6) AS score
            FROM assigned a
            JOIN probed USING (centroid_id)
            JOIN embeddings e ON e.vec_id = a.vec_id, q
            ORDER BY {_cos("e.embedding", "q.qv")} DESC, e.vec_id
            LIMIT 20
        """,
        "sim_ivf_assign": """
            WITH cents AS (
                SELECT vec_id AS centroid_id, embedding AS cvec
                FROM embeddings WHERE vec_id < 8),
            scored AS (
                SELECT e.vec_id, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC,
                                    c.centroid_id) AS rn
                FROM embeddings e CROSS JOIN cents c)
            SELECT vec_id, centroid_id FROM scored WHERE rn = 1
        """,
        # two unrolled Lloyd rounds: assign (cosine argmax, tie -> lowest
        # cid) -> per-dim mean cast to FLOAT (matching the Spark kernel's
        # float32 centroid_vec) -> empty cluster keeps previous centroid;
        # final output is the assignment under the refined centroids
        "sim_kmeans_assign": """
            WITH dims AS (SELECT unnest(range((SELECT len(embedding) FROM embeddings LIMIT 1))) AS dim),
            c0 AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
            a1 AS (SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid) AS rn
                FROM embeddings e CROSS JOIN c0 c) WHERE rn = 1),
            m1 AS (SELECT a.cid, d.dim, avg(e.embedding[d.dim + 1])::FLOAT AS m
                   FROM a1 a JOIN embeddings e USING (vec_id) CROSS JOIN dims d
                   GROUP BY a.cid, d.dim),
            c1m AS (SELECT cid, list(m ORDER BY dim) AS cv FROM m1 GROUP BY cid),
            c1 AS (SELECT c0.cid, COALESCE(c1m.cv, c0.cv) AS cv FROM c0 LEFT JOIN c1m USING (cid)),
            a2 AS (SELECT vec_id, cid FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid) AS rn
                FROM embeddings e CROSS JOIN c1 c) WHERE rn = 1),
            m2 AS (SELECT a.cid, d.dim, avg(e.embedding[d.dim + 1])::FLOAT AS m
                   FROM a2 a JOIN embeddings e USING (vec_id) CROSS JOIN dims d
                   GROUP BY a.cid, d.dim),
            c2m AS (SELECT cid, list(m ORDER BY dim) AS cv FROM m2 GROUP BY cid),
            c2 AS (SELECT c1.cid, COALESCE(c2m.cv, c1.cv) AS cv FROM c1 LEFT JOIN c2m USING (cid))
            SELECT vec_id, cid AS centroid_id FROM (
                SELECT e.vec_id, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid) AS rn
                FROM embeddings e CROSS JOIN c2 c) WHERE rn = 1
        """,
        "sim_kmeanspp_assign": _sql_kmeanspp(8),
        "sim_kmeanspar_assign": _sql_kmeanspar(4, 8, 2),
        "text_langid": f"SELECT doc_id, {_sql_langid()} AS lang_guess FROM documents",
        "text_quality": f"""
            SELECT doc_id,
                   round({stopword_ratio}, 6) AS stopword_ratio,
                   round({punct}, 6) AS punct_ratio,
                   round({quality}, 6) AS quality
            FROM documents
        """,
        "text_token_count": f"""
            SELECT doc_id, len({t}) AS n_tokens,
                   len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens
            FROM documents
        """,
        "text_fingerprint": f"SELECT doc_id, md5(array_to_string({t}, ' ')) AS fp FROM documents",
        "curate_verdicts": f"""
            WITH scored AS (
                SELECT doc_id, md5(text) AS m,
                       {_sql_langid()} AS lang_guess,
                       round({quality}, 6) AS quality
                FROM documents),
            canon AS (SELECT m, min(doc_id) AS c FROM scored GROUP BY m)
            SELECT doc_id,
                   CASE WHEN doc_id != c THEN 'dup'
                        WHEN lang_guess NOT IN ('en', 'de') THEN 'lang'
                        WHEN quality < 0.5 THEN 'quality'
                        ELSE 'keep' END AS verdict,
                   lang_guess, quality
            FROM scored JOIN canon USING (m)
        """,
        "curate_with_neardup": f"""
            WITH RECURSIVE {_LSH_CTES},
            lsh_pairs AS ({_LSH_PAIRS_SELECT}),
            edges AS (
                SELECT a_id AS u, b_id AS v FROM lsh_pairs
                UNION
                SELECT b_id, a_id FROM lsh_pairs),
            reach(u, v) AS (
                SELECT u, v FROM edges
                UNION
                SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
            clusters AS (
                SELECT u AS id, least(u, min(v)) AS cluster_id
                FROM reach GROUP BY u),
            scored AS (
                SELECT doc_id, md5(text) AS m,
                       {_sql_langid()} AS lang_guess,
                       round({quality}, 6) AS quality
                FROM documents),
            canon AS (SELECT m, min(doc_id) AS c FROM scored GROUP BY m)
            SELECT doc_id,
                   CASE WHEN doc_id != c THEN 'dup'
                        WHEN cl.id IS NOT NULL AND doc_id != cl.cluster_id THEN 'near_dup'
                        WHEN lang_guess NOT IN ('en', 'de') THEN 'lang'
                        WHEN quality < 0.5 THEN 'quality'
                        ELSE 'keep' END AS verdict,
                   lang_guess, quality
            FROM scored JOIN canon USING (m)
            LEFT JOIN clusters cl ON cl.id = doc_id
        """,
        "mm_media_features": """
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   octet_length(encode(text)) AS n_bytes,
                   md5(text) AS payload_md5
            FROM documents
        """,
    }
