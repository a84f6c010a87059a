"""Training-data pipeline operators: dedup ladder, ANN, text, multimodal."""

from __future__ import annotations

import hashlib
import os
import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mysql_time_machine_spark.functions.text import (
    STOPWORDS,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from mysql_time_machine_spark.operators.ann import assign_centroids, brute_force_topk, ivf_topk
from mysql_time_machine_spark.operators.dedup import (
    embedding_dup_pairs,
    exact_dedup,
    fingerprint_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from mysql_time_machine_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    media_from_documents,
)

SF = "/root/testdata/sf0.001"


def py_simhash64(text):
    """Independent python reimplementation of the engine's 64-bit SimHash
    (signed two's-complement long, like Spark's)."""
    toks = sorted({t for t in re.split(r"[^a-z0-9]+", text.lower()) if t})
    hs = [int(hashlib.md5(t.encode()).hexdigest()[:16], 16) for t in toks]
    out = 0
    for bit in range(64):
        votes = sum(1 if (h >> bit) & 1 else -1 for h in hs)
        if votes > 0:
            out += 1 << bit
    return out - (1 << 64) if out >= (1 << 63) else out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# -- dedup -------------------------------------------------------------------


def test_exact_dedup_counts(spark, docs):
    import duckdb

    got = exact_dedup(docs).count()
    exp = duckdb.sql(f"select count(distinct text) from '{SF}/documents.parquet'").fetchone()[0]
    assert got == exp


def test_exact_dedup_finds_planted_copy(spark, docs):
    planted = docs.limit(1).withColumn("doc_id", F.lit(10_000).cast("long"))
    out = exact_dedup(docs.unionByName(planted))
    assert out.where(F.col("n_copies") >= 2).count() >= 1


def test_fingerprint_dedup_normalizes(spark):
    d = spark.createDataFrame(
        [Row(doc_id=1, text="Hello,   World!"), Row(doc_id=2, text="hello world"),
         Row(doc_id=3, text="entirely different words")]
    )
    out = fingerprint_dedup(d).where(F.col("n_copies") == 2).collect()
    assert len(out) == 1 and out[0]["canonical_id"] == 1


def test_ngram_jaccard_planted_near_dup(spark, docs):
    base = docs.limit(1)
    # mutate one word -> high but <1 jaccard
    mutated = base.withColumn("doc_id", F.lit(10_001).cast("long")).withColumn(
        "text", F.concat(F.col("text"), F.lit(" mutation"))
    )
    pairs = ngram_jaccard_pairs(docs.unionByName(mutated), threshold=0.5).collect()
    assert any(r["b_id"] == 10_001 and 0.5 <= r["jaccard"] < 1.0 for r in pairs)


def test_minhash_signature_portable(spark, docs):
    """Spark signature == straight hashlib reimplementation (portability
    to the DuckDB oracle depends on this)."""
    row = docs.select("doc_id", "text").limit(1).head()
    toks = [t for t in re.split(r"[^a-z0-9]+", row["text"].lower()) if t]
    shingles = sorted({" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}) if len(toks) >= 3 else [" ".join(toks)]
    exp = [
        min(
            hashlib.md5(f"{k}:{hashlib.md5(s.encode()).hexdigest()}".encode()).hexdigest()
            for s in shingles
        )
        for k in range(16)
    ]
    got = (
        docs.where(F.col("doc_id") == row["doc_id"])
        .select(minhash_signature("text").alias("mh"))
        .head()["mh"]
    )
    assert list(got) == exp


def test_minhash_lsh_finds_planted_dup(spark, docs):
    sample = docs.limit(30)
    dup = sample.limit(1).withColumn("doc_id", F.lit(10_002).cast("long"))
    pairs = minhash_lsh_pairs(sample.unionByName(dup), threshold=0.9).collect()
    assert any(r["b_id"] == 10_002 and r["jaccard"] == 1.0 for r in pairs)


@pytest.mark.parametrize("n_hashes,bands", [(0, 1), (-4, 1), (16, 0), (16, 5)])
def test_minhash_rejects_bad_shape(spark, docs, tmp_path, n_hashes, bands):
    """n_hashes=0 would build a 2-hash signature (sequence(0, -1) counts
    down); a band must hold a whole number of hashes."""
    from mysql_time_machine_spark.operators.dedup import minhash_dedup_stream

    with pytest.raises(ValueError, match="n_hashes"):
        minhash_lsh_pairs(docs, n_hashes=n_hashes, bands=bands)
    with pytest.raises(ValueError, match="n_hashes"):
        minhash_dedup_stream(spark, str(tmp_path / "src"), str(tmp_path / "sink"),
                             n_hashes=n_hashes, bands=bands)
    if bands == 1:
        with pytest.raises(ValueError, match="n_hashes"):
            minhash_signature("text", n_hashes=n_hashes)


def test_simhash_portable_and_near_dup(spark):
    d = spark.createDataFrame(
        [
            Row(doc_id=1, lang="en", text="the quick brown fox jumps over the lazy dog near the river bank today"),
            Row(doc_id=2, lang="en", text="the quick brown fox jumps over the lazy dog near the river bank tonight"),
            Row(doc_id=3, lang="en", text="completely unrelated legal boilerplate paragraph about insurance claims"),
        ]
    )
    # portability: Spark simhash == python reimplementation
    got = {r["doc_id"]: r["h"] for r in d.select("doc_id", simhash("text").alias("h")).collect()}

    for r in d.collect():
        assert got[r["doc_id"]] == py_simhash64(r["text"]), r["doc_id"]

    pairs = {(r["a_id"], r["b_id"]): r["hamming"] for r in simhash_pairs(d, max_hamming=8).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_64bit_survives_32bit_collision(spark):
    """Birthday-saturation regression: these two tokens share the first 8
    md5 hex chars (found by search over ~1.3e5 candidates — exactly the
    collision density a ~10^5-distinct-doc corpus hits), so a 32-bit
    SimHash makes the two single-token documents Hamming-0 "exact"
    near-dups. The 64-bit fingerprint must keep them far apart."""
    a, b = "tok94533", "tok129055"
    assert hashlib.md5(a.encode()).hexdigest()[:8] == hashlib.md5(b.encode()).hexdigest()[:8]
    assert hashlib.md5(a.encode()).hexdigest()[:16] != hashlib.md5(b.encode()).hexdigest()[:16]

    d = spark.createDataFrame(
        [Row(doc_id=1, lang="en", text=a), Row(doc_id=2, lang="en", text=b)]
    )
    got = {r["doc_id"]: r["h"] for r in d.select("doc_id", simhash("text").alias("h")).collect()}
    assert got[1] == py_simhash64(a) and got[2] == py_simhash64(b)
    assert got[1] != got[2]
    true_hamming = bin((got[1] ^ got[2]) & ((1 << 64) - 1)).count("1")
    assert true_hamming > 8  # far apart in 64-bit space...
    pairs = simhash_pairs(d, max_hamming=8).collect()
    assert pairs == []  # ...so no false near-dup pair is emitted


def test_embedding_dup_pairs_planted(spark, emb):
    sample = emb.limit(50)
    dup = sample.limit(1).withColumn("vec_id", F.lit(10_003).cast("long"))
    pairs = embedding_dup_pairs(sample.unionByName(dup), threshold=0.999).collect()
    assert any(r["b_id"] == 10_003 and r["cos"] > 0.999 for r in pairs)


# -- ANN ----------------------------------------------------------------------


def test_seed_centroids_pp_deterministic_beats_first_nlist(spark):
    """Farthest-first seeding must (a) be bit-deterministic across calls
    and (b) beat first-nlist seeding when the low ids happen to be
    neighbors — here ids 0..7 all sit in ONE of four well-separated
    clusters, the pathological ordering first-nlist cannot escape."""
    from mysql_time_machine_spark.operators.ann import seed_centroids, seed_centroids_pp
    from mysql_time_machine_spark.functions.similarity import cosine

    axes = [(1.0, 0.0, 0.0, 0.0), (0.0, 1.0, 0.0, 0.0),
            (0.0, 0.0, 1.0, 0.0), (0.0, 0.0, 0.0, 1.0)]

    def jitter(base, i):
        return [float(b + 0.01 * ((i * 7 + j) % 5)) for j, b in enumerate(base)]

    rows = [(i, jitter(axes[0], i)) for i in range(8)]  # low ids: one cluster
    rows += [(8 + i, jitter(axes[(i % 4)], i)) for i in range(40)]
    emb4 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pp1 = sorted(map(tuple, seed_centroids_pp(emb4, nlist=4).collect()))
    pp2 = sorted(map(tuple, seed_centroids_pp(emb4, nlist=4).collect()))
    assert [(c, list(v)) for c, v in pp1] == [(c, list(v)) for c, v in pp2]

    def quality(cents):
        return (
            emb4.crossJoin(F.broadcast(cents))
            .groupBy("vec_id")
            .agg(F.max(cosine("embedding", "centroid_vec")).alias("mc"))
            .agg(F.avg("mc"))
            .head()[0]
        )

    q_pp = quality(seed_centroids_pp(emb4, nlist=4))
    q_first = quality(seed_centroids(emb4, nlist=4))
    assert q_pp > q_first + 0.1  # spread seeds cover all four clusters


def test_write_clustered_no_stale_cells_under_dynamic_overwrite(spark, emb, tmp_path):
    """Re-clustering with a smaller nlist must fully replace the layout
    even when the session runs dynamic partition overwrite (which would
    otherwise keep the old centroid_id=... dirs for cells the new write
    doesn't produce — stale data the probe could scan)."""
    import os

    from mysql_time_machine_spark.operators.ann import write_clustered

    path = str(tmp_path / "clustered")
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        write_clustered(emb, path, nlist=8)
        assert len([d for d in os.listdir(path) if d.startswith("centroid_id=")]) == 8
        write_clustered(emb, path, nlist=4)
        cells = sorted(d for d in os.listdir(path) if d.startswith("centroid_id="))
        assert len(cells) == 4  # no stale cells from the nlist=8 run
        assert spark.read.parquet(f"{path}/_centroids").count() == 4
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)


def test_brute_force_topk_self_first(spark, emb):
    q = emb.where(F.col("vec_id") == 7).head()["embedding"]
    top = brute_force_topk(emb, list(q), k=5).collect()
    assert top[0]["vec_id"] == 7
    assert abs(top[0]["score"] - 1.0) < 1e-6
    assert all(top[i]["score"] >= top[i + 1]["score"] for i in range(len(top) - 1))


def test_topk_batch_matches_per_query(spark, emb):
    """brute_force_topk_batch == brute_force_topk run per query, including
    the (score desc, vec_id asc) tie-break — and its plan is aggregate-
    based (two-stage partition-local top-k), not a Window sort."""
    from mysql_time_machine_spark.operators.ann import brute_force_topk_batch

    qids = [3, 7, 11]
    queries = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = brute_force_topk_batch(emb, queries, k=5)
    got = {
        qid: [(r["vec_id"], round(r["score"], 6))
              for r in batch.where(F.col("query_id") == qid)
                           .orderBy(F.desc("score"), "vec_id").collect()]
        for qid in qids
    }
    for qid in qids:
        qv = emb.where(F.col("vec_id") == qid).head()["embedding"]
        exp = [(r["vec_id"], round(r["score"], 6))
               for r in brute_force_topk(emb, list(qv), k=5).collect()]
        assert got[qid] == exp, qid
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_ivf_clustered_layout_parity_and_file_pruning(spark, emb, tmp_path):
    """write_clustered + ivf_topk_clustered: identical answer to the
    in-memory ivf_topk under the same centroids/nprobe, and the probed
    scan opens strictly fewer data files than a full scan (Catalyst
    partition pruning on the centroid_id directory layout)."""
    from mysql_time_machine_spark.operators.ann import (
        ivf_topk_clustered,
        probe_cells,
        write_clustered,
    )

    q = emb.where(F.col("vec_id") == 7).head()["embedding"]
    path = str(tmp_path / "clustered")
    write_clustered(emb, path, nlist=8)

    a = [(r["vec_id"], round(r["score"], 6))
         for r in ivf_topk(emb, list(q), k=10, nlist=8, nprobe=2).collect()]
    b = [(r["vec_id"], round(r["score"], 6))
         for r in ivf_topk_clustered(spark, path, list(q), k=10, nprobe=2).collect()]
    assert a == b

    cents = spark.read.parquet(f"{path}/_centroids")
    assert cents.count() == 8
    probed = probe_cells(cents, list(q), 2)
    full = spark.read.parquet(path)
    pruned = full.where(F.col("centroid_id").isin(probed))
    n_all = full.select(F.input_file_name()).distinct().count()
    n_pruned = pruned.select(F.input_file_name()).distinct().count()
    assert 0 < n_pruned < n_all, (n_pruned, n_all)
    # the partition filter must reach the scan, not run post-scan
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan.split("PartitionFilters", 1)[1][:200]


def test_ivf_topk_recall(spark, emb):
    q = emb.where(F.col("vec_id") == 7).head()["embedding"]
    exact = [r["vec_id"] for r in brute_force_topk(emb, list(q), k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(emb, list(q), k=10, nlist=8, nprobe=4).collect()]
    # IVF probes half the lists: require the query itself + >=40% overlap
    assert 7 in approx
    assert len(set(exact) & set(approx)) >= 4


def test_assign_centroids_complete(spark, emb):
    assigned = assign_centroids(emb, nlist=8)
    assert assigned.count() == emb.count()
    assert assigned.select("centroid_id").distinct().count() <= 8


def test_kmeans_centroids_deterministic_and_tighter(spark, emb):
    """Lloyd refinement: deterministic across runs, and the mean cosine of
    each vector to its assigned centroid must not get worse than the raw
    first-nlist seeds (it should get strictly better on real spreads)."""
    from mysql_time_machine_spark.functions.similarity import cosine
    from mysql_time_machine_spark.operators.ann import kmeans_centroids, seed_centroids

    km1 = kmeans_centroids(emb, nlist=8, iters=2)
    km2 = kmeans_centroids(emb, nlist=8, iters=2)
    assert sorted(map(tuple, km1.collect())) == sorted(map(tuple, km2.collect()))

    def mean_fit(cents):
        assigned = assign_centroids(emb, nlist=8, centroids=cents)
        scored = assigned.join(
            F.broadcast(cents.withColumnRenamed("centroid_vec", "cv")), "centroid_id"
        )
        return scored.agg(F.avg(cosine("embedding", "cv"))).head()[0]

    assert mean_fit(km1) >= mean_fit(seed_centroids(emb, nlist=8)) - 1e-9


def test_embedding_dup_pairs_ivf_planted(spark, emb):
    """IVF-blocked near-dup: an exact duplicate lands in the same centroid
    cell and is found without any label column."""
    from mysql_time_machine_spark.operators.dedup import embedding_dup_pairs_ivf

    sample = emb.limit(50)
    dup = sample.limit(1).withColumn("vec_id", F.lit(10_003).cast("long"))
    pairs = embedding_dup_pairs_ivf(sample.unionByName(dup), threshold=0.999, nlist=4).collect()
    assert any(r["b_id"] == 10_003 and r["cos"] > 0.999 for r in pairs)


# -- text ----------------------------------------------------------------------


def test_token_count_and_quality(spark, docs):
    r = docs.select(
        token_count("text").alias("n"), quality_score("text").alias("q")
    ).agg(F.min("n"), F.min("q"), F.max("q")).head()
    assert r[0] > 0
    assert 0.0 <= r[1] <= r[2] <= 1.0


def test_lang_id_values(spark, docs):
    vals = {r["l"] for r in docs.select(lang_id("text").alias("l")).distinct().collect()}
    assert vals <= set(STOPWORDS) | {"und"}
    # corpus text is english-ish word soup containing 'the'
    en = docs.select(lang_id("text").alias("l")).where(F.col("l") == "en").count()
    assert en > 0


def test_fingerprint_stability(spark, docs):
    a = docs.select("doc_id", fingerprint("text").alias("f")).collect()
    b = docs.select("doc_id", fingerprint("text").alias("f")).collect()
    assert a == b


# -- multimodal ------------------------------------------------------------------


def test_multimodal_features_deterministic(spark, docs):
    media = media_from_documents(docs)
    feats = extract_features(media).cache()
    assert feats.count() == docs.count()
    one = feats.where(F.col("media_id") == 0).head()
    text0 = docs.where(F.col("doc_id") == 0).head()["text"]
    assert one["payload_md5"] == hashlib.md5(text0.encode()).hexdigest()
    assert one["n_bytes"] == len(text0.encode())
    # images have dims, audio/video have duration
    assert feats.where((F.col("kind") == "image") & F.col("width").isNull()).count() == 0
    assert feats.where((F.col("kind") == "image") & F.col("duration_ms").isNotNull()).count() == 0
    assert feats.where((F.col("kind") != "image") & F.col("width").isNotNull()).count() == 0


def test_multimodal_real_decode_raises(spark, docs):
    media = media_from_documents(docs.limit(2))
    with pytest.raises(Exception, match="NotImplementedError|not available"):
        extract_features(media, decode_stub=False).collect()


def test_frame_sample_plan(spark, docs):
    media = media_from_documents(docs.limit(30))
    frames = frame_sample_plan(media, every_ms=10_000).toPandas()
    assert (frames["frame_ts_ms"] % 10_000 == 0).all()
    assert frames.groupby("media_id").size().min() >= 1


def test_connected_components_chain_and_clique(spark):
    """Pairs -> clusters: a 4-chain (diameter > 1 forces propagation
    rounds), a triangle, and an isolated pair each resolve to min-id
    cluster labels."""
    from mysql_time_machine_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),  # triangle
         (20, 21)],                     # isolated pair
        "a_id long, b_id long",
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_constant_plan_depth(spark):
    """Deep-graph hygiene: a 12-chain needs 11 propagation rounds; the
    localCheckpoint per round must (a) still converge to the right labels
    and (b) keep the returned plan CONSTANT-DEPTH — a scan of the last
    checkpointed round, not an 11-deep join/agg lineage chain."""
    from mysql_time_machine_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 111)], "a_id long, b_id long"
    )
    out = connected_components(chain, max_iters=20)
    got = {r["id"]: r["cluster_id"] for r in out.collect()}
    assert got == {i: 100 for i in range(100, 112)}
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # lineage was cut: the plan reads the checkpointed RDD, and contains
    # no Join/Aggregate chain from the 11 propagation rounds
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    assert "Join" not in plan
    assert len(plan) < 2000


def test_connected_components_log_rounds_and_union_find_parity(spark):
    """Pointer jumping (path halving) makes deep chains converge in
    O(log diameter) rounds: a 12-chain must fully resolve within
    max_iters=6 (pure one-hop propagation would need 11). And on a random
    graph the labels must equal a python union-find ground truth."""
    import random

    from mysql_time_machine_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 111)], "a_id long, b_id long"
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(chain, max_iters=6).collect()}
    assert got == {i: 100 for i in range(100, 112)}

    rng = random.Random(7)
    pairs = sorted({tuple(sorted(rng.sample(range(60), 2))) for _ in range(45)})
    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    nodes = {n for p in pairs for n in p}
    truth = {}
    for n in nodes:
        truth.setdefault(find(n), []).append(n)
    expected = {n: min(members) for members in truth.values() for n in members}

    d = spark.createDataFrame(pairs, "a_id long, b_id long")
    got_r = {r["id"]: r["cluster_id"] for r in connected_components(d).collect()}
    assert got_r == expected


def test_simhash_pairs_zipf_dup_skew(spark):
    """Dup-dense corpora: one mega-group of identical fingerprints plus
    near-dups. The representative-collapsed banding must produce EXACTLY
    the naive quadratic pair set (ids + hamming), including all
    C(n,2) intra-group pairs and the cross-group near-dup pairs."""
    from mysql_time_machine_spark.operators.dedup import simhash_pairs

    mega = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = mega.replace("today", "tonight")
    other = "completely unrelated legal boilerplate paragraph about insurance claims"
    rows = (
        [Row(doc_id=i, lang="en", text=mega) for i in range(30)]
        + [Row(doc_id=100 + i, lang="en", text=near) for i in range(5)]
        + [Row(doc_id=200, lang="en", text=other),
           Row(doc_id=201, lang="de", text=mega)]  # other block: no cross-lang pair
    )
    d = spark.createDataFrame(rows)

    max_h = 8
    fps = [(r.doc_id, r.lang, py_simhash64(r.text)) for r in rows]
    expected = {
        (a_id, b_id, bin(ah ^ bh).count("1"))
        for i, (a_id, al, ah) in enumerate(fps)
        for (b_id, bl, bh) in fps[i + 1 :]
        if al == bl and bin(ah ^ bh).count("1") <= max_h
    }
    assert len(expected) > 30 * 29 // 2  # intra-mega-group plus cross pairs
    got = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in simhash_pairs(d, max_hamming=max_h).collect()
    }
    assert got == expected


def test_minhash_lsh_default_staging_no_tempdir(spark, docs, tmp_path):
    """Default staging is executor-storage localCheckpoint: correct on any
    master, and no driver-local temp directory is created or leaked. An
    explicit staging_dir still stages Parquet there (shared-FS path)."""
    import glob
    import tempfile

    sample = docs.limit(30)
    dup = sample.limit(1).withColumn("doc_id", F.lit(10_002).cast("long"))
    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "mtm_lsh_pairs_*")))
    pairs = minhash_lsh_pairs(sample.unionByName(dup), threshold=0.9)
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "mtm_lsh_pairs_*")))
    assert after == before
    assert any(b == 10_002 for _, b in got)

    stage = str(tmp_path / "lsh_stage")
    staged = minhash_lsh_pairs(sample.unionByName(dup), threshold=0.9, staging_dir=stage)
    assert {(r["a_id"], r["b_id"]) for r in staged.collect()} == got
    assert glob.glob(os.path.join(stage, "*.parquet"))


def test_ngram_and_minhash_rep_collapse_exact_on_dup_dense(spark):
    """Both shingle-based pair generators collapse identical texts to one
    representative before the expensive stage; the expanded output must be
    EXACTLY the naive per-doc pair set — all C(n,2) exact-dup pairs at
    jaccard 1.0, plus the near-dup cross pairs at their true jaccard."""
    base_text = ("the quick brown fox jumps over the lazy dog and runs to the "
                 "river with the happy children for a long day of play in the sun")
    near_text = base_text.replace("sun", "rain")
    rows = (
        [Row(doc_id=i, lang="en", text=base_text) for i in range(6)]
        + [Row(doc_id=100 + i, lang="en", text=near_text) for i in range(3)]
        + [Row(doc_id=200, lang="en", text="entirely different legal boilerplate "
                                           "paragraph about insurance claims and policies")]
    )
    d = spark.createDataFrame(rows)

    def py_shingles(text, n=3):
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        return (
            {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
            if len(toks) >= n
            else {" ".join(toks)}
        )

    sh = {r.doc_id: py_shingles(r.text) for r in rows}
    ids = sorted(sh)
    threshold = 0.5
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
            if j >= threshold:
                expected[(a, b)] = round(j, 6)

    got_ng = {
        (r["a_id"], r["b_id"]): round(r["jaccard"], 6)
        for r in ngram_jaccard_pairs(d, threshold=threshold).collect()
    }
    assert got_ng == expected

    # minhash verifies with the TRUE digest-array jaccard, so the surviving
    # pair set obeys the same threshold on candidates; every exact-dup and
    # the (high-jaccard) near-dup cross pairs must all surface at 16x4 bands
    got_mh = {
        (r["a_id"], r["b_id"]): round(r["jaccard"], 6)
        for r in minhash_lsh_pairs(d, threshold=threshold).collect()
    }
    assert set(got_mh) == set(expected)  # candidates recall everything here
    assert got_mh == expected  # and the verified jaccard values are exact


def test_assign_centroids_topp_p1_matches_single(spark, emb):
    from mysql_time_machine_spark.operators.ann import assign_centroids_topp

    single = {(r["vec_id"], r["centroid_id"]) for r in assign_centroids(emb, nlist=8).collect()}
    topp = {
        (r["vec_id"], r["centroid_id"])
        for r in assign_centroids_topp(emb, nlist=8, probes=1).collect()
    }
    assert topp == single


def test_embedding_dup_pairs_ivf_multiprobe_recall(spark):
    """A near-dup pair straddling two centroid cells is missed at probes=1
    and recovered at probes=2; probes=2 output is a superset of probes=1
    and a subset of brute force."""
    from mysql_time_machine_spark.operators.dedup import (
        embedding_dup_pairs,
        embedding_dup_pairs_ivf,
    )

    # seed centroids = vec_id 0/1 -> cells along each axis; 2 and 3 are a
    # close pair (cos ~ 0.9945) homed in DIFFERENT cells
    d = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [1.0, 0.9]),
            (3, [0.9, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    kw = dict(threshold=0.99, nlist=2)
    p1 = {(r["a_id"], r["b_id"]) for r in embedding_dup_pairs_ivf(d, probes=1, **kw).collect()}
    p2 = {(r["a_id"], r["b_id"]) for r in embedding_dup_pairs_ivf(d, probes=2, **kw).collect()}
    brute = {
        (r["a_id"], r["b_id"])
        for r in embedding_dup_pairs(d, threshold=0.99, block_col=None).collect()
    }
    assert (2, 3) not in p1
    assert (2, 3) in p2
    assert p1 <= p2 <= brute
    assert p2 == brute  # at probes=2 of 2 cells, recall is total here


def test_curate_verdict_precedence(spark):
    """dup beats lang beats quality; canonical copy keeps its own verdict."""
    from mysql_time_machine_spark.operators.curate import curate

    good = ("the quick brown fox jumps over the lazy dog and runs to the river "
            "with the happy children for a long day of play in the sun") * 1
    d = spark.createDataFrame(
        [
            Row(doc_id=1, text=good),
            Row(doc_id=2, text=good),              # exact dup of 1 -> 'dup'
            Row(doc_id=3, text="der hund und die katze sind auf der wiese und das ist von einem haus mit garten zu sehen ein guter tag"),
            Row(doc_id=4, text="el perro y el gato que es de la casa con un es por en la calle"),  # es -> 'lang'
            # english but degenerate: too short + all-stopword -> 'quality'
            Row(doc_id=5, text="the and of to in is that"),
        ]
    )
    got = {r["doc_id"]: r["verdict"] for r in curate(d, langs=("en", "de")).collect()}
    assert got[1] == "keep" and got[2] == "dup"
    assert got[3] == "keep"
    assert got[4] == "lang"
    assert got[5] == "quality"


def test_curate_neardup_tier_precedence(spark):
    """With the clusters tier plugged in: exact 'dup' still wins over
    'near_dup'; a cluster loser that is NOT an exact dup verdicts
    'near_dup' even if it would also fail a later gate; the cluster
    canonical (id == cluster_id) passes through to the scalar gates."""
    from mysql_time_machine_spark.operators.curate import curate

    good = ("the quick brown fox jumps over the lazy dog and runs to the river "
            "with the happy children for a long day of play in the sun")
    d = spark.createDataFrame(
        [
            Row(doc_id=1, text=good),
            Row(doc_id=2, text=good),                  # exact dup of 1
            Row(doc_id=3, text=good + " extra tail"),  # near-dup of 1
            Row(doc_id=4, text="the and of to in is that"),  # quality fail
        ]
    )
    clusters = spark.createDataFrame(
        [Row(id=1, cluster_id=1), Row(id=2, cluster_id=1), Row(id=3, cluster_id=1)]
    )
    got = {r["doc_id"]: r["verdict"]
           for r in curate(d, langs=("en", "de"), clusters=clusters).collect()}
    assert got[1] == "keep"       # cluster canonical
    assert got[2] == "dup"        # exact dup outranks near_dup
    assert got[3] == "near_dup"   # cluster loser, not an exact dup
    assert got[4] == "quality"    # not in any cluster


def test_exact_dedup_stream_multibatch_matches_batch(spark, tmp_path):
    """Streaming exact dedup over a MULTI-FILE drop dir (maxFilesPerTrigger=1
    -> one micro-batch per file, duplicates split ACROSS batches) converges
    to exactly the batch aggregate."""
    from mysql_time_machine_spark.operators.dedup import exact_dedup, exact_dedup_stream

    rows = [Row(doc_id=i, text=f"text-{i % 7}") for i in range(40)]
    src = str(tmp_path / "drops")
    for part in range(4):
        spark.createDataFrame(rows[part * 10 : (part + 1) * 10]).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    docs = spark.read.parquet(src)
    exp = sorted(
        (r["text_md5"], r["canonical_id"], r["n_copies"])
        for r in exact_dedup(docs).collect()
    )
    got = sorted(
        (r["text_md5"], r["canonical_id"], r["n_copies"])
        for r in exact_dedup_stream(spark, src, max_files_per_trigger=1).collect()
    )
    assert got == exp and len(got) == 7
    # the memory-sink harness shape must not leave a driver-resident table
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("dedup_stream_")]


def test_exact_dedup_stream_parquet_sink_incremental(spark, tmp_path):
    """Production sink shape: update-mode foreachBatch upsert into the
    bucketed Parquet store. Multi-batch convergence == batch aggregate; a
    re-run over the same checkpoint is a no-op; NEW files are folded in
    incrementally (state persists across calls); no memory-sink table."""
    from mysql_time_machine_spark.operators.dedup import exact_dedup, exact_dedup_stream

    rows = [Row(doc_id=i, text=f"text-{i % 7}") for i in range(40)]
    src = str(tmp_path / "drops")
    sink = str(tmp_path / "dedup_sink")
    for part in range(3):
        spark.createDataFrame(rows[part * 10 : (part + 1) * 10]).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def snap(df):
        return sorted(
            (r["text_md5"], r["canonical_id"], r["n_copies"]) for r in df.collect()
        )

    got = snap(exact_dedup_stream(spark, src, max_files_per_trigger=1, sink_dir=sink))
    assert got == snap(exact_dedup(spark.read.parquet(src)))

    # idempotent resume: nothing new to process, store unchanged
    again = snap(exact_dedup_stream(spark, src, max_files_per_trigger=1, sink_dir=sink))
    assert again == got

    # incremental: a late drop folds into the existing store/state
    spark.createDataFrame(rows[30:]).coalesce(1).write.mode("append").parquet(src)
    final = snap(exact_dedup_stream(spark, src, max_files_per_trigger=1, sink_dir=sink))
    assert final == snap(exact_dedup(spark.read.parquet(src)))
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("dedup_stream_")]


def test_exact_dedup_stream_bucket_cow_bounded(spark, tmp_path):
    """Rewrite amplification is bounded: with buckets >> per-batch keys
    (the documented sizing rule), a small incremental drop rewrites ONLY
    the buckets its keys hash to — every other bucket's files are
    byte-identical afterwards."""
    import hashlib
    import os

    from mysql_time_machine_spark.operators.dedup import exact_dedup, exact_dedup_stream

    src = str(tmp_path / "drops")
    sink = str(tmp_path / "sink")
    spark.createDataFrame(
        [Row(doc_id=i, text=f"seed-{i}") for i in range(20)]
    ).coalesce(1).write.mode("append").parquet(src)
    exact_dedup_stream(spark, src, max_files_per_trigger=1, sink_dir=sink)

    store = os.path.join(sink, "store")

    def file_hashes():
        out = {}
        for dirpath, _d, files in os.walk(store):
            for fn in files:
                if fn.endswith(".parquet"):
                    p = os.path.join(dirpath, fn)
                    with open(p, "rb") as f:
                        out[p] = hashlib.md5(f.read()).hexdigest()
        return out

    before = file_hashes()
    assert len({os.path.dirname(p) for p in before}) <= 20  # <= one bucket per key

    # a 2-key drop: one brand-new text, one duplicate of an existing text
    spark.createDataFrame(
        [Row(doc_id=100, text="brand-new"), Row(doc_id=101, text="seed-3")]
    ).coalesce(1).write.mode("append").parquet(src)
    got = sorted(
        (r["text_md5"], r["canonical_id"], r["n_copies"])
        for r in exact_dedup_stream(
            spark, src, max_files_per_trigger=1, sink_dir=sink
        ).collect()
    )
    assert got == sorted(
        (r["text_md5"], r["canonical_id"], r["n_copies"])
        for r in exact_dedup(spark.read.parquet(src)).collect()
    )

    after = file_hashes()
    changed_dirs = {
        os.path.dirname(p)
        for p in set(before) | set(after)
        if before.get(p) != after.get(p)
    }
    # 2 keys -> at most 2 bucket partitions rewritten; untouched buckets
    # carry byte-identical files
    assert 1 <= len(changed_dirs) <= 2
    untouched = [p for p in before if os.path.dirname(p) not in changed_dirs]
    assert untouched and all(after.get(p) == before[p] for p in untouched)


def test_exact_dedup_stream_resume_adopts_stored_buckets(spark, tmp_path):
    """The store layout bakes in n_buckets: a resume passing a DIFFERENT
    value must adopt the persisted one (_store_meta.json) — otherwise
    existing keys land in wrong bucket dirs and duplicate silently."""
    import json
    import os

    from mysql_time_machine_spark.operators.dedup import exact_dedup, exact_dedup_stream

    src = str(tmp_path / "drops")
    sink = str(tmp_path / "sink")
    spark.createDataFrame(
        [Row(doc_id=i, text=f"t-{i % 5}") for i in range(10)]
    ).coalesce(1).write.mode("append").parquet(src)
    exact_dedup_stream(spark, src, sink_dir=sink, n_buckets=4)
    with open(os.path.join(sink, "_store_meta.json")) as f:
        assert json.load(f)["n_buckets"] == 4

    spark.createDataFrame(
        [Row(doc_id=20, text="t-0"), Row(doc_id=21, text="t-9")]
    ).coalesce(1).write.mode("append").parquet(src)
    # resume with a conflicting value: stored 4 wins, no duplicate rows
    got = sorted(
        (r["text_md5"], r["canonical_id"], r["n_copies"])
        for r in exact_dedup_stream(spark, src, sink_dir=sink, n_buckets=64).collect()
    )
    assert got == sorted(
        (r["text_md5"], r["canonical_id"], r["n_copies"])
        for r in exact_dedup(spark.read.parquet(src)).collect()
    )
    with open(os.path.join(sink, "_store_meta.json")) as f:
        assert json.load(f)["n_buckets"] == 4


def test_exact_dedup_stream_empty_source_schema_follows_id_type(spark, tmp_path):
    """Zero-data source with STRING doc ids: the empty result's schema
    must match what a non-empty run would produce (canonical_id string),
    not a hardcoded long."""
    from mysql_time_machine_spark.operators.dedup import exact_dedup_stream

    src = str(tmp_path / "empty_drops")
    spark.createDataFrame([], "doc_id string, text string").write.parquet(src)
    out = exact_dedup_stream(spark, src, sink_dir=str(tmp_path / "sink"))
    assert out.count() == 0
    assert dict(out.dtypes)["canonical_id"] == "string"


def test_seed_centroids_parallel_quality_and_determinism(spark):
    """k-means||-style seeding at nlist=32: deterministic across calls,
    quality at least matching first-nlist seeding, and the pass count is
    O(log nlist) (rounds + weighting), not nlist driver round-trips."""
    from mysql_time_machine_spark.functions.similarity import cosine
    from mysql_time_machine_spark.operators.ann import (
        seed_centroids,
        seed_centroids_parallel,
    )

    # 32 well-separated one-hot directions x 12 jittered members each;
    # low ids all in cluster 0 (the pathological first-nlist ordering)
    dim = 32

    def vec(axis, i):
        v = [0.0] * dim
        v[axis] = 1.0
        v[(axis + 7) % dim] = 0.01 * ((i * 13) % 5)
        return v

    rows = [(i, vec(0, i)) for i in range(12)]
    rows += [(100 + a * 12 + i, vec(a, i)) for a in range(32) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    s1 = seed_centroids_parallel(emb, nlist=32)
    s2 = seed_centroids_parallel(emb, nlist=32)
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
    assert s1.count() == 32

    def quality(cents):
        return (
            emb.crossJoin(F.broadcast(cents))
            .groupBy("vec_id")
            .agg(F.max(cosine("embedding", "centroid_vec")).alias("mc"))
            .agg(F.avg("mc"))
            .head()[0]
        )

    q_par = quality(s1)
    q_first = quality(seed_centroids(emb, nlist=32))
    assert q_par > q_first + 0.1  # covers the 32 clusters; first-nlist can't
    # the oversampled pool covers (nearly) every cluster: with 2*nlist
    # samples per round over log2(32)=5 rounds, assignment quality should
    # be near-perfect on this separable layout
    assert q_par > 0.97


def test_seed_centroids_guards(spark):
    """ADVICE round-4: empty input and nlist > distinct vectors must fail
    fast with clear errors (both seeders), not TypeError / silent dupes."""
    import pytest as _pytest

    from mysql_time_machine_spark.operators.ann import (
        seed_centroids_parallel,
        seed_centroids_pp,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="empty"):
        seed_centroids_pp(empty, nlist=2)
    with _pytest.raises(ValueError, match="empty"):
        seed_centroids_parallel(empty, nlist=2)

    # 5 rows, only 2 distinct vectors
    few = spark.createDataFrame(
        [(i, [1.0, 0.0] if i % 2 else [0.0, 1.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="distinct"):
        seed_centroids_pp(few, nlist=3)
    with _pytest.raises(ValueError, match="distinct"):
        seed_centroids_parallel(few, nlist=3)
    # exactly-enough passes
    assert seed_centroids_pp(few, nlist=2).count() == 2
    assert seed_centroids_parallel(few, nlist=2).count() == 2


def test_exact_dedup_stream_compaction_folds_epochs(spark, tmp_path):
    """compact_exact_store folds the per-epoch absolute rows to one fold
    partition per bucket (restoring the resolve-free fast read); reads
    before/after are identical and a post-compaction resume still
    converges to the batch aggregate."""
    import os

    from mysql_time_machine_spark.operators.dedup import (
        compact_exact_store,
        exact_dedup,
        exact_dedup_stream,
    )

    src = str(tmp_path / "drops")
    sink = str(tmp_path / "sink")
    rows = [Row(doc_id=i, text=f"t-{i % 7}") for i in range(20)]
    for lo in (0, 10):
        spark.createDataFrame(rows[lo : lo + 10]).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def snap(df):
        return sorted(
            (r["text_md5"], r["canonical_id"], r["n_copies"]) for r in df.collect()
        )

    before = snap(exact_dedup_stream(spark, src, max_files_per_trigger=1, sink_dir=sink))
    res = compact_exact_store(spark, sink)
    assert res["folded_buckets"] >= 1 and res["dropped_epoch_partitions"] >= 1
    store = os.path.join(sink, "store")
    for entry in os.listdir(store):
        if entry.startswith("_bucket="):
            eps = [
                e for e in os.listdir(os.path.join(store, entry)) if e.startswith("_epoch=")
            ]
            assert eps == ["_epoch=-1"], (entry, eps)
    from mysql_time_machine_spark.operators.dedup import read_exact_store

    assert snap(read_exact_store(spark, sink)) == before

    # post-compaction incremental drop (new key + a dup of an old text)
    spark.createDataFrame(
        [Row(doc_id=100, text="fresh"), Row(doc_id=101, text="t-3")]
    ).coalesce(1).write.mode("append").parquet(src)
    final = snap(exact_dedup_stream(spark, src, max_files_per_trigger=1, sink_dir=sink))
    assert final == snap(exact_dedup(spark.read.parquet(src)))
