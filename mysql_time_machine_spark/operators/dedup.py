"""Deduplication operators for training-data pipelines.

Cheapest-first — the standard web-corpus dedup ladder:

1. ``exact_dedup``             — hash-groupBy on the raw text
2. ``fingerprint_dedup``       — hash-groupBy on the canonicalized token stream
3. ``ngram_jaccard_pairs``     — length-bucket-blocked n-gram Jaccard (near-dup)
4. ``minhash_lsh_pairs``       — MinHash + banded LSH (near-dup at scale)
5. ``simhash_pairs``           — SimHash + pigeonhole-banded Hamming join
6. ``embedding_dup_pairs``     — cosine near-dup over an embedding column
7. ``embedding_dup_pairs_ivf`` — same, blocked on data-derived IVF cells

Scale notes (the part that matters at 100 TB):
- 1/2 are single-shuffle groupBys with map-side partial aggregation.
- 3 never goes quadratic: candidates come from an EQUI-join on
  (block_cols, length-bucket) — the probe side explodes each doc into its
  3 adjacent buckets, so Catalyst hash/SMJ-joins on the bucket key instead
  of scanning all pairs within a language block.
- 4 is the linear-time path: K minhashes per doc (one projection), bands
  of R hashes bucket-join candidates; only bucket collisions are verified.
  Hash fn is md5(seed || shingle) so the DuckDB oracle can reproduce it
  bit-for-bit (xxhash64 would be faster but is not portable to the gate).
- 5 compresses each doc to one 64-bit integer; near-dup = small Hamming
  distance. Pair generation uses PIGEONHOLE banding: the fingerprint is
  split into (max_hamming + 1) bit-chunks, and any pair within Hamming
  <= max_hamming must agree on at least one chunk — so candidates come
  from an equi-join on (chunk_idx, chunk_value), verified with
  bit_count(xor) (both Spark and DuckDB builtins). Same shape as the
  MinHash LSH join; never all-pairs. 64 bits matter at corpus scale: a
  32-bit space saturates by birthday collision around ~10^5 distinct
  documents, making unrelated docs Hamming-0 "exact" near-dups; 2^64
  pushes that to ~10^10.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mysql_time_machine_spark.functions.similarity import cosine
from mysql_time_machine_spark.functions.text import fingerprint, tokens

# ---------------------------------------------------------------------------
# 1 + 2: exact & canonicalized
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: canonical (min) id + duplicate count."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies"))
    )


#: on-disk layout generation of the streaming dedup stores; v2 is the
#: epoch-partitioned merge-on-read layout (v1 was bucket-granular CoW) —
#: resuming a v1 store under v2 would mix directory structures, so both
#: stream operators pin it in _store_meta.json and fail fast on mismatch
_STORE_LAYOUT_VERSION = 2


def _md5_bucket(col: F.Column, n_buckets: int) -> F.Column:
    """md5-hex prefix -> store bucket number (shared by every epoch-
    partitioned stream store so writes and compaction agree on layout)."""
    return F.pmod(
        F.conv(F.substring(col, 1, 6), 16, 10).cast("long"), F.lit(n_buckets)
    ).cast("int")


def _store_epoch_dirs(fs, store: str) -> list[tuple[str, list[str]]]:
    """[(bucket_dir, [epoch_dir_name, ...]), ...] of an epoch-partitioned
    stream store — the layout walk compaction and the fast-path probe use."""
    out = []
    for entry in sorted(fs.listdir(store)):
        if entry.startswith("_bucket="):
            bdir = f"{store}/{entry}"
            out.append(
                (bdir, sorted(e for e in fs.listdir(bdir) if e.startswith("_epoch=")))
            )
    return out


def _next_fold_ordinal(fs, store: str) -> int:
    """Fold partitions are ``_epoch=-K`` (K = 1, 2, ... per compaction);
    real epochs are >= 0, so the two can never collide — a crash-replayed
    micro-batch dynamic-overwrites only its own non-negative partition.
    Returns the next unused K."""
    k = 0
    for _bdir, eps in _store_epoch_dirs(fs, store):
        for e in eps:
            v = int(e.split("=", 1)[1])
            if v < 0:
                k = max(k, -v)
    return k + 1


#: resolution order for absolute-state epoch stores: any real epoch beats
#: any fold (the fold is a snapshot of strictly older state), and a newer
#: fold (larger K, i.e. more negative _epoch) beats an older one
def _epoch_resolution_ord() -> F.Column:
    return F.when(
        F.col("_epoch") >= 0,
        F.struct(F.lit(1).alias("g"), F.col("_epoch").alias("e")),
    ).otherwise(F.struct(F.lit(0).alias("g"), (-F.col("_epoch")).alias("e")))


def _fold_install(fs, store: str, tmp: str, fold_k: int) -> dict[str, int]:
    """Install a staged fold: rename each staged bucket dir into the store
    as ``_epoch=-fold_k``, then drop the superseded partitions. Crash-safe
    at every boundary: the new fold never overwrites the old one (fresh
    K), and resolution stays correct with any mix of fold + epoch dirs
    present, so deletions can trail a crash harmlessly."""
    import os as _os

    installed = 0
    for entry in sorted(fs.listdir(tmp)):
        if not entry.startswith("_bucket="):
            continue
        dst_b = f"{store}/{entry}"
        fs.makedirs(dst_b)
        fs.replace(f"{tmp}/{entry}", f"{dst_b}/_epoch=-{fold_k}")
        installed += 1
    fs.rmtree(tmp)
    dropped = 0
    for bdir, eps in _store_epoch_dirs(fs, store):
        for e in eps:
            if int(e.split("=", 1)[1]) != -fold_k:
                fs.rmtree(_os.path.join(bdir, e))
                dropped += 1
    return {"folded_buckets": installed, "dropped_epoch_partitions": dropped}


def read_exact_store(spark, sink_dir: str) -> DataFrame:
    """Current state of an ``exact_dedup_stream`` store: per key, the
    newest absolute row wins (real epochs beat folds, newer folds beat
    older — ``_epoch_resolution_ord``). When the store holds ONLY one fold
    partition per bucket (steady state after ``compact_exact_store``) the
    resolve aggregate is skipped and the read is a plain pruned scan."""
    import os as _os

    from mysql_time_machine_spark.fsio import MetaFS

    fs = MetaFS(sink_dir, spark)
    store = _os.path.join(sink_dir, "store")
    raw = spark.read.parquet(store)
    per_bucket = _store_epoch_dirs(fs, store)
    if per_bucket and all(
        len(eps) == 1 and int(eps[0].split("=", 1)[1]) < 0 for _b, eps in per_bucket
    ):
        return raw.select("text_md5", "canonical_id", "n_copies")
    return (
        raw.groupBy("text_md5")
        .agg(
            F.max_by(
                F.struct("canonical_id", "n_copies"), _epoch_resolution_ord()
            ).alias("_s")
        )
        .select(
            "text_md5",
            F.col("_s.canonical_id").alias("canonical_id"),
            F.col("_s.n_copies").alias("n_copies"),
        )
    )


def compact_exact_store(spark, sink_dir: str) -> dict[str, int]:
    """``rewrite_data_files`` analogue for the exact-dedup stream store:
    fold the accumulated per-epoch rows into ONE row per key under a
    fresh ``_epoch=-K`` partition, then drop the superseded partitions —
    steady-state reads regain the resolve-free fast path. Run from a
    maintenance window (no concurrent stream writer), like the manifest
    sink's compaction. The fold is staged outside the store and renamed
    in, so the store never reads and overwrites the same path, and a
    crash at any point leaves a store every read still resolves
    correctly (the fold only ever ADDS a snapshot that loses to newer
    rows)."""
    import os as _os

    from mysql_time_machine_spark.fsio import MetaFS

    fs = MetaFS(sink_dir, spark)
    store = _os.path.join(sink_dir, "store")
    if not fs.isdir(store):
        return {"folded_buckets": 0, "dropped_epoch_partitions": 0}
    import json as _json

    meta = _json.loads(fs.read_text(_os.path.join(sink_dir, "_store_meta.json")))
    n_buckets = int(meta["n_buckets"])
    fold_k = _next_fold_ordinal(fs, store)
    tmp = _os.path.join(sink_dir, "_compact_tmp")
    fs.rmtree(tmp)
    (
        read_exact_store(spark, sink_dir)
        .withColumn("_bucket", _md5_bucket(F.col("text_md5"), n_buckets))
        .repartition("_bucket")
        .write.mode("overwrite")
        .partitionBy("_bucket")
        .parquet(tmp)
    )
    return _fold_install(fs, store, tmp, fold_k)


def exact_dedup_stream(
    spark,
    source_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int = 2,
    sink_dir: str | None = None,
    n_buckets: int = 64,
) -> DataFrame:
    """Streaming exact dedup: tail ``source_path`` as a file-source stream
    (new corpus drops arrive as files), fold each micro-batch into the
    stateful ``groupBy(md5(text))`` aggregate — the same one-shuffle,
    map-side-combined shape as batch ``exact_dedup``, with the running
    (canonical_id, n_copies) per distinct text held in streaming state.
    Runs with Trigger.AvailableNow (bounded backfill: process everything
    present, in file order, then stop); the final table is byte-equal to
    batch exact_dedup over the same files (oracle invariant). On an
    unbounded corpus you would bound state with a watermark on an
    ingest-time column; exact dedup deliberately keeps ALL fingerprints (a
    dup of a year-old document is still a dup), so state scales with
    distinct content — the same sizing rule as the batch aggregate's
    shuffle.

    Two sink shapes:

    * ``sink_dir`` given — THE PRODUCTION PATH: update-mode aggregate +
      ``foreachBatch`` appending (text_md5, canonical_id, n_copies) rows
      into a Parquet store at ``<sink_dir>/store`` partitioned by
      ``(_bucket, _epoch)`` — MERGE-ON-READ, the manifest sink's write
      economics: each micro-batch writes ONLY its own rows (bytes/epoch
      proportional to the BATCH, independent of store size; the round-6
      layout was bucket-granular copy-on-write, whose per-batch rewrite
      grew with the STORE). Update-mode rows carry ABSOLUTE state values
      (not deltas), so the read side resolves each key to its newest
      epoch's row (one map-side-combined ``max_by``) — and a replayed
      micro-batch (crash between the sink write and the checkpoint
      commit) dynamic-overwrites its own ``_epoch`` partitions with the
      same content — idempotent. Results NEVER concentrate on the driver.
      ``compact_exact_store`` folds accumulated epochs back to one row
      per key (the ``rewrite_data_files`` analogue), restoring the
      resolve-free fast read. The checkpoint lives under
      ``<sink_dir>/_checkpoint``: a later call over the same dir resumes
      incrementally (only new files are processed). ``sink_dir`` must be
      a shared filesystem on a real cluster.

      ``n_buckets`` now only governs read-side pruning granularity and
      file counts (writes never rewrite a bucket); the first run PERSISTS
      it in ``<sink_dir>/_store_meta.json`` and every resume adopts the
      stored value so the layout stays consistent across resumes.
    * no ``sink_dir`` — test/oracle harness shape: complete-mode memory
      sink. The result is copied out with ``localCheckpoint`` (executor
      storage) and the driver-resident memory-sink table is DROPPED before
      returning, so nothing stays pinned in driver memory for the session.
      Use only where the distinct-text table is known-small.
    """
    import os as _os
    import uuid as _uuid

    static = spark.read.parquet(source_path)
    reader = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if _os.path.isfile(source_path):
        # the file source requires a directory: stream the parent with a
        # filename glob (how you'd scope one table in a multi-table drop dir)
        base, fname = _os.path.split(source_path)
        stream = reader.option("pathGlobFilter", fname).parquet(base)
    else:
        stream = reader.parquet(source_path)
    agg = stream.groupBy(F.md5(F.col(text_col)).alias("text_md5")).agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies")
    )

    if sink_dir is None:
        name = f"dedup_stream_{_uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.table(name).localCheckpoint(eager=True)
        spark.catalog.dropTempView(name)
        return out

    store = _os.path.join(sink_dir, "store")
    # the bucketing is baked into the file layout: adopt the stored value
    # on resume (see sizing rule above), persist it on first run
    import json as _json

    from mysql_time_machine_spark.fsio import MetaFS

    fs = MetaFS(sink_dir, spark)
    meta_path = _os.path.join(sink_dir, "_store_meta.json")
    if fs.exists(meta_path):
        meta = _json.loads(fs.read_text(meta_path))
        if meta.get("layout", 1) != _STORE_LAYOUT_VERSION:
            raise ValueError(
                f"store at {sink_dir} uses layout v{meta.get('layout', 1)} "
                f"(bucket-CoW); this build writes v{_STORE_LAYOUT_VERSION} "
                "(epoch-partitioned merge-on-read) — rebuild into a fresh "
                "sink_dir"
            )
        n_buckets = int(meta["n_buckets"])
    else:
        fs.makedirs(sink_dir)
        fs.write_text_atomic(
            meta_path,
            _json.dumps({"n_buckets": n_buckets, "layout": _STORE_LAYOUT_VERSION}),
        )

    def upsert(batch: DataFrame, epoch_id: int) -> None:
        # merge-on-read append: write ONLY this batch's rows, partitioned
        # by (_bucket, _epoch). No read of the existing store, no
        # anti-join, no rewrite — bytes/epoch ∝ batch. Dynamic partition
        # overwrite keyed on the epoch's own partitions keeps crash
        # replays idempotent (same epoch -> same partitions -> same rows).
        (
            batch.withColumn("_bucket", _md5_bucket(F.col("text_md5"), n_buckets))
            .withColumn("_epoch", F.lit(int(epoch_id)).cast("long"))
            # cluster by the write-partition key (write.distribution-mode=
            # hash): otherwise every input task writes one file per bucket
            # it holds and the store accretes tasks x buckets files/epoch,
            # all re-opened by later resolves/compactions. Batch-sized
            # exchange; a replayed epoch repartitions identically, so the
            # dynamic overwrite stays row-idempotent.
            .repartition(F.col("_bucket"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bucket", "_epoch")
            .parquet(store)
        )

    q = (
        agg.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", _os.path.join(sink_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # zero-data source: either no batch ran (no store dir) or one empty
    # batch ran (a store dir holding only _SUCCESS — no partitions to
    # infer a schema from); both return the empty result shape, matching
    # the memory-sink path's behavior on the same input. agg.schema, not a
    # hardcoded DDL: canonical_id's type follows id_col (min(id_col)), so
    # string doc ids must yield a string column here too
    has_data = fs.isdir(store) and any(
        e.startswith("_bucket=") for e in fs.listdir(store)
    )
    if not has_data:
        return spark.createDataFrame([], agg.schema)
    return read_exact_store(spark, sink_dir)


def fingerprint_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Near-exact: identical after lowercase/punct/whitespace canon."""
    return (
        docs.groupBy(fingerprint(F.col(text_col)).alias("fp"))
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# identical-text representative collapse (shared by the pair generators)
# ---------------------------------------------------------------------------


def _identical_text_groups(
    docs: DataFrame, text_col: str, id_col: str, block_cols: tuple[str, ...]
) -> tuple[DataFrame, DataFrame]:
    """(reps, members) for the partial/final trick every pair generator
    uses on dup-dense corpora: ``reps`` has ONE row per distinct
    (block, text) — id = min member id, plus the text — and ``members``
    maps each doc id to its group's rep id. Identical texts have identical
    shingles/signatures/fingerprints, so any text-derived pair metric is
    constant across a group: the generator runs on reps only (signature
    work and join candidates scale with DISTINCT texts, never with
    exact-dup mass), and true pairs are reconstructed afterwards by
    ``_expand_rep_pairs``."""
    base = docs.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        F.md5(F.col(text_col)).alias("_gkey"),
        F.col(text_col).alias(text_col),
    )
    reps = base.groupBy("_gkey", *block_cols).agg(
        F.min("id").alias("id"), F.min_by(text_col, F.col("id")).alias(text_col)
    )
    members = base.select("id", "_gkey", *block_cols).join(
        reps.select("_gkey", *block_cols, F.col("id").alias("_rep")),
        ["_gkey", *block_cols],
    ).select("id", "_rep")
    return reps, members


def _expand_rep_pairs(
    rep_pairs: DataFrame, members: DataFrame, metric_col: str, threshold: float = 0.0
) -> DataFrame:
    """Rep-level pairs -> member-level pairs: two equi-joins through the
    member->rep map (groups are disjoint, so least/greatest emits each
    unordered pair exactly once), plus the intra-group pairs (identical
    texts: metric is exactly 1.0 by definition of every similarity here).
    Output-bound — the joins emit exactly the true pairs."""
    cross = (
        rep_pairs.join(
            members.select(F.col("id").alias("_am"), F.col("_rep").alias("a_id")), "a_id"
        )
        .join(members.select(F.col("id").alias("_bm"), F.col("_rep").alias("b_id")), "b_id")
        .select(
            F.least("_am", "_bm").alias("a_id"),
            F.greatest("_am", "_bm").alias("b_id"),
            metric_col,
        )
    )
    ml = members.select(F.col("id").alias("a_id"), "_rep")
    mr = members.select(F.col("id").alias("b_id"), F.col("_rep").alias("_repb"))
    intra = (
        ml.join(mr, F.col("_rep") == F.col("_repb"))
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.lit(1.0).cast("double").alias(metric_col))
    )
    if threshold > 1.0:  # degenerate: nothing can pass, incl. exact dups
        intra = intra.where(F.lit(False))
    return intra.unionByName(cross)


# ---------------------------------------------------------------------------
# 3: blocked pairwise n-gram Jaccard
# ---------------------------------------------------------------------------


def word_shingles(text_col: str, n: int = 3) -> F.Column:
    """Distinct word n-grams (joined with single spaces)."""
    t = tokens(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(t, i + 1, n), " "),
    )
    return F.when(F.size(t) >= n, F.array_distinct(grams)).otherwise(
        F.array(F.array_join(t, " "))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    length_bucket: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """Candidate near-dup pairs (a_id < b_id) with their Jaccard similarity.

    Blocking: same block_cols + same-or-adjacent length bucket, expressed
    as an EQUI-join: the a-side explodes each doc into its three probe
    buckets [lb-1, lb, lb+1] and joins b on (block_cols, bucket). Each
    qualifying pair matches exactly once (the probe values are distinct),
    so no distinct pass is needed. Catalyst sees equi keys and plans a
    hash/sort-merge join — candidate enumeration is linear in the bucket
    co-membership, never O(n^2) within a block. At corpus scale you shrink
    ``length_bucket`` / add block columns to tighten the buckets further.

    Identical texts are collapsed to one representative first
    (``_identical_text_groups``): shingling and the bucket join run over
    DISTINCT texts only, and exact-dup pairs (jaccard exactly 1.0) are
    reconstructed through the group map — on a dup-dense web corpus the
    expensive stage never pays the exact-dup mass.
    """
    reps, members = _identical_text_groups(docs, text_col, id_col, block_cols)
    base = reps.select(
        F.col("id"),
        *[F.col(c) for c in block_cols],
        word_shingles(text_col, n).alias("sh"),
        F.floor(F.length(text_col) / length_bucket).alias("lb"),
    )
    a = base.select(
        F.col("id").alias("a_id"), *[F.col(c).alias(f"a_{c}") for c in block_cols],
        F.col("sh").alias("a_sh"),
        F.explode(F.array(F.col("lb") - 1, F.col("lb"), F.col("lb") + 1)).alias("a_plb"),
    )
    b = base.select(
        F.col("id").alias("b_id"), *[F.col(c).alias(f"b_{c}") for c in block_cols],
        F.col("sh").alias("b_sh"), F.col("lb").alias("b_lb"),
    )
    cond = F.col("a_plb") == F.col("b_lb")
    for c in block_cols:
        cond = cond & (F.col(f"a_{c}") == F.col(f"b_{c}"))
    # |A ∪ B| = |A| + |B| - |A ∩ B| (distinct arrays) — see minhash_lsh_pairs
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size("a_sh") + F.size("b_sh") - inter
    rep_pairs = (
        a.join(b, cond)
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id", "b_id",
            (inter / F.greatest(union, F.lit(1))).cast("double").alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return _expand_rep_pairs(rep_pairs, members, "jaccard", threshold)


# ---------------------------------------------------------------------------
# 4: MinHash + banded LSH
# ---------------------------------------------------------------------------


def _check_minhash_args(n_hashes: int, bands: int = 1) -> None:
    """Reject signature/band shapes the HOF trees below would silently
    mis-build: ``sequence(0, n_hashes - 1)`` counts DOWN for n_hashes < 1
    (n_hashes=0 yields 2 hashes), and a band needs a whole number of
    rows."""
    if n_hashes < 1 or bands < 1 or n_hashes % bands:
        raise ValueError(
            f"MinHash needs n_hashes >= 1, bands >= 1 and n_hashes % bands == 0; "
            f"got n_hashes={n_hashes}, bands={bands}"
        )


def _minhash_from_shm(shm, n_hashes: int) -> F.Column:
    """K minhashes over an array of shingle DIGESTS: min over shingles of
    md5(k || ':' || md5(shingle)). The single source of the signature
    math — the batch LSH operator, the streaming index, and the public
    ``minhash_signature`` all build from here, so they cannot drift
    (a one-bit divergence would silently desynchronize the streaming
    index from the batch oracle)."""
    # one transform(sequence(0, K-1)) tree, not K separate array-HOF
    # columns: same md5 count and bit-identical values (probed: concat(
    # cast(k), ':') == lit(f"{k}:")), but the expression tree the
    # analyzer/optimizer/AQE re-walk per stage shrinks ~K-fold — the
    # driver-side planning share of the LSH legs was the measured
    # remainder after round 7's compute work
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda k: F.array_min(
            F.transform(shm, lambda m: F.md5(F.concat(k.cast("string"), F.lit(":"), m)))
        ),
    )


def _band_structs(mh, n_hashes: int, bands: int) -> F.Column:
    """array<struct<band:int, bucket:string>>: the banded LSH buckets of a
    signature — md5 over the '|'-joined R-hash slice per band. Shared by
    the batch pair generator and the streaming index (same drift
    argument as ``_minhash_from_shm``)."""
    rows_per_band = n_hashes // bands
    # same single-tree shape as _minhash_from_shm (bit-identical structs,
    # including field names — probed)
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bi: F.struct(
            bi.cast("int").alias("band"),
            F.md5(
                F.array_join(
                    F.slice(mh, bi * rows_per_band + F.lit(1), F.lit(rows_per_band)),
                    "|",
                )
            ).alias("bucket"),
        ),
    )


def minhash_signature(text_col: str, n_hashes: int = 16, n: int = 3) -> F.Column:
    """K minhashes: min over shingles of md5(k || ':' || md5(shingle)).

    The inner md5 runs ONCE per shingle; the K outer hashes then digest a
    fixed 32-char string instead of re-hashing arbitrarily long shingles K
    times — ~K-fold less hashing on long documents. Portable (md5-only) so
    the DuckDB oracle reproduces signatures exactly."""
    _check_minhash_args(n_hashes)
    base = F.transform(word_shingles(text_col, n), lambda s: F.md5(s))
    return _minhash_from_shm(base, n_hashes)


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    staging_dir: str | None = None,
) -> DataFrame:
    """Near-dup pairs via banded LSH, verified with true shingle Jaccard.

    rows-per-band R = n_hashes/bands; collision prob ≈ 1-(1-j^R)^bands.
    Candidates come from an equi-join on (band, band-hash) — a plain
    shuffle join, no quadratic scan anywhere.

    Identical texts are collapsed to one representative first: shingling,
    the K hash passes, banding, and verification all run over DISTINCT
    texts (identical texts share every band, so a group of n exact copies
    would otherwise flood its buckets with C(n,2) candidates per band);
    the exact-dup pairs (jaccard exactly 1.0) are reconstructed through
    the group map afterwards — output-bound, no over-generation.

    Cache lifecycle: the (id, shingles, signature) projection is persisted
    only for the duration of THIS call — the verified pair table (tiny vs
    the corpus) is materialized and the signature cache is released before
    returning, so no executor memory stays pinned after the operator
    completes. Materialization strategy:

    * no ``staging_dir`` (default) — ``localCheckpoint``: blocks live in
      EXECUTOR storage (memory+disk), correct on any master — unlike a
      driver-local temp path, which on a multi-node cluster would collect
      each executor's task files on different machines. No temp dir is
      created or leaked. Caveat: localCheckpoint blocks don't survive
      executor loss; pass ``staging_dir`` for fault-tolerant staging.
    * ``staging_dir`` given — staged as Parquet there. Must be a SHARED
      filesystem (HDFS/S3) on a multi-node cluster; the caller owns the
      directory's lifecycle (it is NOT auto-deleted — the returned
      DataFrame reads from it lazily).
    """
    # materialize shingles ONCE; the k hash passes then transform the
    # md5-digest array (short fixed-width strings), never the raw text —
    # without this projection boundary Catalyst re-derives the shingle
    # array for every consumer (no CSE across array HOFs). The raw shingle
    # strings are dropped here: verification Jaccard runs on the DIGEST
    # arrays (md5 is injective on distinct shingles for all practical
    # purposes, so intersect/union counts — and hence the Jaccard value —
    # are identical), which shrinks the persisted/verified payload to
    # fixed 32-char strings regardless of shingle length.
    _check_minhash_args(n_hashes, bands)
    reps, members = _identical_text_groups(docs, text_col, id_col, ())
    sh_df = reps.select("id", word_shingles(text_col, n).alias("sh"))
    shm_df = sh_df.select("id", F.transform("sh", lambda s: F.md5(s)).alias("shm"))
    sig = shm_df.select(
        "id", "shm", _minhash_from_shm(F.col("shm"), n_hashes).alias("mh")
    )
    sig.persist()
    # the banded join carries ONLY (id, band, bucket) — candidate discovery
    # shuffles ~bands rows per doc, never the shingle arrays; shingles are
    # re-attached afterwards for the (much smaller) verification join
    banded = sig.select(
        "id",
        F.explode(_band_structs(F.col("mh"), n_hashes, bands)).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )
    sh_only = sig.select("id", "shm")
    verified = (
        cand.join(sh_only.select(F.col("id").alias("a_id"), F.col("shm").alias("a_sh")), "a_id")
        .join(sh_only.select(F.col("id").alias("b_id"), F.col("shm").alias("b_sh")), "b_id")
    )
    # |A ∪ B| = |A| + |B| - |A ∩ B| exactly (both arrays are DISTINCT by
    # construction), so the union's hash-set build is skipped — one set
    # operation per candidate pair instead of two, same jaccard bits
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size("a_sh") + F.size("b_sh") - inter
    rep_out = verified.select(
        "a_id", "b_id",
        (inter / F.greatest(union, F.lit(1))).cast("double").alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)
    out = _expand_rep_pairs(rep_out, members, "jaccard", threshold)
    # materialize the (small) verified pair table, then drop the signature
    # cache — one computation of the shingle/signature projection total,
    # zero cached RDDs left behind
    try:
        if staging_dir is not None:
            out.write.mode("overwrite").parquet(staging_dir)
            return docs.sparkSession.read.parquet(staging_dir)
        return out.localCheckpoint(eager=True)
    finally:
        sig.unpersist()


# ---------------------------------------------------------------------------
# 5: SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64  # full 64-bit fingerprint, carried as a SIGNED long


def _md5_hex16_to_long(m: F.Column) -> F.Column:
    """First 16 hex chars of an md5 digest -> the full 64-bit value as a
    SIGNED long (two's complement: bit 63 set reads as negative). Built
    from two 8-hex-char ``conv`` parses — ``conv`` on 16 chars returns an
    unsigned decimal STRING that overflows a signed-long cast — combined
    with overflow-free arithmetic (safe under ANSI mode): the high half is
    sign-adjusted BEFORE the multiply, so every intermediate stays inside
    [-2^63, 2^63). The identical construction exists in the DuckDB oracle
    (``_sql_hash64`` in __spark_entry__)."""
    hi = F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
    signed_hi = F.when(hi >= F.lit(1 << 31), hi - F.lit(1 << 32)).otherwise(hi)
    return signed_hi * F.lit(1 << 32) + lo


def simhash(text_col: str) -> F.Column:
    """SimHash over word tokens: per-token md5 -> SIMHASH_BITS bits; each
    bit position accumulates +1/-1; fingerprint bit = sign. Pure SQL
    (portable to the DuckDB oracle).

    Single-pass fold: Catalyst does no CSE across array-HOF lambdas, so 64
    separate per-bit aggregates would re-tokenize + re-md5 the document 64
    times (the round-1 MinHash lesson). Instead ONE ``aggregate`` walks the
    token-hash array once, carrying a 64-slot vote accumulator; bit tests
    are ``h & 2^i`` against a constant powers array whose top entry is the
    signed representation of 2^63 (bitwiseAND is two's-complement-exact,
    and the final power sum never exceeds the signed range because the one
    negative term keeps it in [-2^63, 2^63))."""
    t = F.array_distinct(tokens(F.col(text_col)))
    md5s = F.transform(t, lambda x: F.md5(x))
    th = F.transform(md5s, _md5_hex16_to_long)
    powers = F.array(
        *[F.lit(1 << i).cast("long") for i in range(SIMHASH_BITS - 1)],
        F.lit(-(1 << (SIMHASH_BITS - 1))).cast("long"),
    )
    votes = F.aggregate(
        th,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            powers,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )


def _simhash_chunks(h: F.Column, n_chunks: int) -> list[F.Column]:
    """Split a SIMHASH_BITS fingerprint into n_chunks contiguous bit-chunks
    (widths as even as possible)."""
    base_w, rem = divmod(SIMHASH_BITS, n_chunks)
    chunks, off = [], 0
    for i in range(n_chunks):
        w = base_w + (1 if i < rem else 0)
        chunks.append(F.shiftright(h, off).bitwiseAND(F.lit((1 << w) - 1)))
        off += w
    return chunks


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """Near-dup pairs where hamming(simhash_a, simhash_b) <= max_hamming.

    Stage 0 — REPRESENTATIVE COLLAPSE: web corpora are dup-dense (at sf0.1,
    249 of 5,000 docs share ONE 64-bit fingerprint — and under the old
    32-bit space vote-collapse inflated that group to 2,051), and banding
    raw doc rows
    gives any identical-fingerprint group of n docs a C(n,2) candidate
    floor — a skewed self-join hotspot at 100 TB. So banding runs over the
    DISTINCT (block, fingerprint) groups only: candidate volume is
    quadratic in *distinct* fingerprints per bucket, never in docs. The
    true pairs inside / between the groups are reconstructed afterwards by
    two equi-joins through the group->members map — that expansion emits
    exactly the output rows, no over-generation. (Same partial/final trick
    as the collapse kernels.)

    Stage 1 — pigeonhole banding over the group representatives: the
    fingerprint is split into (max_hamming + 1) bit-chunks; two
    fingerprints within Hamming distance max_hamming differ in at most
    max_hamming chunks, so they MUST agree on at least one — candidates
    come from an equi-join on (chunk_idx, chunk_value) (plus block_cols),
    exactly the MinHash-LSH join shape. Never an all-pairs scan. A group
    pair agreeing on several chunks would match several times; the
    LEFTMOST-MATCH filter (keep a match at chunk i only when every chunk
    j < i DIFFERS — pure bit ops on the two fingerprints already in hand)
    makes each group pair survive exactly once, so no distinct pass.

    ``base`` (id, block, h — a few bytes per doc) is localCheckpoint-ed so
    the simhash projection runs ONCE for its three consumers (group agg +
    the two member-expansion joins); blocks are freed when the DataFrame
    is GC'd.
    """
    n_chunks = max_hamming + 1
    # the fingerprint fold is the operator's CPU (64-slot vote accumulator
    # per token): spread it over the cluster BEFORE computing — a small
    # corpus arrives as one file -> one partition, and localCheckpoint
    # materializes with input partitioning, so without this the whole
    # corpus hashes in a single task (measured 0.79 s of a 0.94 s wall at
    # sf0.1). Scale-adaptive: inputs already at-or-above default
    # parallelism are left untouched.
    src = docs.select(
        F.col(id_col).alias("id"), *[F.col(c) for c in block_cols], F.col(text_col)
    )
    par = docs.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    base = src.select(
        "id", *[F.col(c) for c in block_cols], simhash(text_col).alias("h")
    ).localCheckpoint(eager=True)
    groups = base.groupBy(*block_cols, "h").agg(F.min("id").alias("rep_id"))
    chunked = groups.select(
        "rep_id", *block_cols, "h",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("ci"), cv.alias("cv"))
                    for i, cv in enumerate(_simhash_chunks(F.col("h"), n_chunks))
                ]
            )
        ).alias("c"),
    ).select("rep_id", *block_cols, "h", "c.ci", "c.cv")
    a = chunked.select(
        F.col("rep_id").alias("a_rep"), *[F.col(c).alias(f"a_{c}") for c in block_cols],
        F.col("h").alias("a_h"), "ci", "cv",
    )
    b = chunked.select(
        F.col("rep_id").alias("b_rep"), *[F.col(c).alias(f"b_{c}") for c in block_cols],
        F.col("h").alias("b_h"), "ci", "cv",
    )
    cond = F.col("a.ci") == F.col("b.ci")
    cond = cond & (F.col("a.cv") == F.col("b.cv"))
    for c in block_cols:
        cond = cond & (F.col(f"a_{c}") == F.col(f"b_{c}"))
    # leftmost-match dedup: chunk i is the group pair's FIRST agreeing chunk
    a_chunks = _simhash_chunks(F.col("a_h"), n_chunks)
    b_chunks = _simhash_chunks(F.col("b_h"), n_chunks)
    prior_all_differ = F.lit(True)
    lm = F.when(F.col("a.ci") == 0, F.lit(True))
    for i in range(1, n_chunks):
        prior_all_differ = prior_all_differ & (a_chunks[i - 1] != b_chunks[i - 1])
        lm = lm.when(F.col("a.ci") == i, prior_all_differ)
    leftmost = lm.otherwise(F.lit(False))
    group_pairs = (
        a.alias("a")
        .join(b.alias("b"), cond)
        .where((F.col("a_rep") < F.col("b_rep")) & leftmost)
        .select(
            *[F.col(f"a_{c}").alias(c) for c in block_cols],
            "a_h", "b_h",
            F.bit_count(F.col("a_h").bitwiseXOR(F.col("b_h"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    # expand group pairs back to member pairs: two equi-joins through the
    # (block, h) -> ids map; groups are disjoint, so least/greatest emits
    # each unordered pair exactly once
    members = base
    cross = group_pairs
    for side in ("a", "b"):
        m = members.select(
            F.col("id").alias(f"{side}_id"),
            *[F.col(c).alias(f"{side}m_{c}") for c in block_cols],
            F.col("h").alias(f"{side}m_h"),
        )
        on = F.col(f"{side}m_h") == F.col(f"{side}_h")
        for c in block_cols:
            on = on & (F.col(f"{side}m_{c}") == F.col(c))
        cross = cross.join(m, on)
    cross = cross.select(
        F.least("a_id", "b_id").alias("a_id"),
        F.greatest("a_id", "b_id").alias("b_id"),
        "hamming",
    )
    # pairs WITHIN an identical-fingerprint group (hamming 0): one
    # equi-join on (block, h) — output-bound, these ARE true pairs
    ml = members.select(
        F.col("id").alias("a_id"), *block_cols, F.col("h").alias("h")
    )
    mr = members.select(
        F.col("id").alias("b_id"), *[F.col(c).alias(f"r_{c}") for c in block_cols],
        F.col("h").alias("r_h"),
    )
    icond = F.col("h") == F.col("r_h")
    for c in block_cols:
        icond = icond & (F.col(c) == F.col(f"r_{c}"))
    intra = (
        ml.join(mr, icond)
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.lit(0).cast("int").alias("hamming"))
    )
    return intra.unionByName(cross.select("a_id", "b_id", F.col("hamming").cast("int")))


# ---------------------------------------------------------------------------
# 6: embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
) -> DataFrame:
    """Pairs with cosine >= threshold. Blocked on ``block_col`` when given
    (at scale: LSH bucket or IVF centroid id); brute-force inside blocks."""
    a = embeddings.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_v"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    )
    b = embeddings.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_v"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    )
    cond = F.col("a_id") < F.col("b_id")
    join_on = ["blk"] if block_col else []
    j = a.join(b, join_on) if join_on else a.crossJoin(b)
    return (
        j.where(cond)
        .select("a_id", "b_id", cosine("a_v", "b_v").alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iters: int = 20,
) -> DataFrame:
    """Near-dup PAIRS -> duplicate CLUSTERS: (id, cluster_id) where
    cluster_id is the minimum doc id reachable through the pair graph —
    the step that turns any pair generator above into a keep-one-per-
    cluster dedup decision.

    Iterative min-label propagation WITH pointer jumping, pure DataFrame
    ops: each round every vertex takes the min of (its label, its
    neighbors' labels, its label's label). The neighbor term spreads the
    min one hop per round; the pointer-jump term (path halving — a label
    is always the id of a reachable vertex, so label(label(v)) is in the
    same component) collapses chains geometrically, giving convergence in
    O(log diameter) rounds instead of O(diameter). The driver loop stops
    early on a converged round.

    Scale hygiene (the part that matters on deep graphs): ``edges`` is
    persisted ONCE; each round's labels are ``localCheckpoint``-ed, which
    (a) materializes the round in the same single action the convergence
    probe then reads (the old label rides along as an ``old`` column, so
    no second full recompute), and (b) CUTS LINEAGE — round k's plan is
    scan(checkpointed labels) + two joins + one map-side-combined min, a
    constant-depth plan instead of a k-deep chain re-run from scratch
    (O(k) total work, not O(k^2)). Previous generations' blocks are freed
    by the context cleaner when the superseded DataFrame is GC'd.
    """
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .unionByName(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
    )
    edges.persist()
    try:
        labels = (
            edges.select(F.col("u").alias("id"))
            .distinct()
            .withColumn("label", F.col("id"))
            .localCheckpoint(eager=True)
        )
        label_t = labels.schema["label"].dataType
        for _ in range(max_iters):
            neighbor = (
                edges.join(labels.withColumnRenamed("id", "u"), "u")
                .select(F.col("v").alias("id"), "label")
                .withColumn("old", F.lit(None).cast(label_t))
            )
            # path halving: label(label(id)) — one self-join on the
            # (tiny, checkpointed) labels table
            jump = (
                labels.join(
                    labels.select(
                        F.col("id").alias("label"), F.col("label").alias("_jl")
                    ),
                    "label",
                )
                .select("id", F.col("_jl").alias("label"))
                .withColumn("old", F.lit(None).cast(label_t))
            )
            new_labels = (
                labels.withColumn("old", F.col("label"))
                .unionByName(neighbor)
                .unionByName(jump)
                .groupBy("id")
                # min(old) = the row's previous label (each id contributes
                # exactly one non-null old) — carried so convergence is
                # read off the materialized round, not a second action
                .agg(F.min("label").alias("label"), F.min("old").alias("old"))
            ).localCheckpoint(eager=True)
            improved = new_labels.where(F.col("label") < F.col("old")).limit(1).count()
            labels = new_labels.drop("old")
            if improved == 0:
                break
    finally:
        edges.unpersist()
    return labels.select("id", F.col("label").alias("cluster_id"))


def embedding_dup_pairs_ivf(
    embeddings: DataFrame,
    threshold: float = 0.95,
    nlist: int = 8,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """The scale path for embedding near-dup: block on the IVF centroid
    assignment instead of a fixture label — the equi-join key is
    data-derived, so this works on any corpus. Brute force only inside
    cells, which the assignment keeps balanced.

    Recall: approximate in the standard IVF sense. At ``probes=1`` a pair
    straddling two centroid cells is missed; ``probes>1`` is the standard
    multi-probe lever — the probe side is assigned to its top-``probes``
    cells (``assign_centroids_topp``), so a straddling pair is recovered
    once either member probes the other's HOME cell. The join stays a
    plain equi-join on centroid_id; candidates are normalized to
    (least, greatest) and de-duplicated after the threshold filter (cosine
    is evaluated with identical per-element order both orientations, so
    the value is bit-equal and distinct is exact). probes=1 reproduces the
    single-probe pair set exactly."""
    from mysql_time_machine_spark.operators.ann import assign_centroids, assign_centroids_topp

    probe_side = assign_centroids_topp(
        embeddings, nlist, probes=probes, id_col=id_col, vec_col=vec_col, centroids=centroids
    )
    home_side = assign_centroids(embeddings, nlist, id_col, vec_col, centroids=centroids)
    a = probe_side.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_v"), "centroid_id"
    )
    b = home_side.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_v"), "centroid_id"
    )
    return (
        a.join(b, "centroid_id")
        .where(F.col("a_id") != F.col("b_id"))
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
            cosine("a_v", "b_v").alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .distinct()
    )


# ---------------------------------------------------------------------------
# 8: streaming MinHash-LSH near-dup (incremental index)
# ---------------------------------------------------------------------------


def minhash_dedup_stream(
    spark,
    source_path: str,
    sink_dir: str,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int = 2,
    n_buckets: int = 64,
) -> DataFrame:
    """Streaming NEAR-dup dedup: an incremental MinHash-LSH index.

    ``exact_dedup_stream`` folds arriving documents into an exact-content
    store; this is its near-dup sibling — each micro-batch of new
    documents is banded, checked against everything already indexed, and
    the index grows by exactly the batch. Per document the verdict is

        (doc_id, dup_of, kept)

    where ``dup_of`` is the SMALLEST earlier doc id that shares at least
    one LSH band bucket AND verifies at true shingle Jaccard >=
    ``threshold`` (NULL -> ``kept`` = true). Arrival order is the
    semantic order: the operator requires drops to arrive in
    nondecreasing ``id_col`` order (the natural layout for append-only
    corpus drops), which makes the final verdict table a PURE FUNCTION of
    the corpus, equal to the batch rule "min earlier band-sharing
    neighbor with Jaccard >= t" — the property the contract oracle checks
    (``dedup_stream_minhash``). The requirement is ENFORCED, not assumed:
    the store meta persists the max indexed doc id, and a (non-replay)
    batch whose min id is not above it FAILS FAST — Spark's file source
    orders by modification time, not name, so a back-dated or equal-mtime
    drop file could otherwise silently produce verdicts that diverge from
    the batch rule. A smaller id arriving after a larger one could not
    retroactively flip the earlier document's verdict anyway — online
    dedup never re-litigates shipped verdicts.

    Index layout under ``sink_dir`` — every store is APPEND-ONLY,
    partitioned by ``(_bucket, _epoch)``: a micro-batch writes exactly
    its own rows (bytes/epoch proportional to the BATCH, independent of
    index size — the manifest sink's merge-on-read economics; the round-6
    layout was bucket-granular CoW whose per-batch rewrite grew with the
    STORE). Dynamic partition overwrite keyed on the epoch's own
    partitions keeps crash replays idempotent.
    ``compact_minhash_stream_index`` folds accumulated epochs to one file
    set per bucket (fold partitions ``_epoch=-K`` can never collide with
    a replayed real epoch). ``n_buckets`` governs read-side pruning
    granularity only:

    * ``bands/_bucket=H/_epoch=N/`` — (band, bucket, doc_id): the LSH
      postings. A batch reads ONLY the ``_bucket`` dirs its own band
      hashes touch (file-pruned candidate lookup; the collected ids are
      bucket NUMBERS, <= n_buckets of them — control-plane, never data).
    * ``docs/_bucket=H/_epoch=N/`` — (doc_id, shm): the distinct-shingle
      digest arrays for Jaccard verification; read only for the buckets
      holding candidate counterpart ids.
    * ``verdicts/_epoch=N/`` — the per-batch verdicts, dynamic-overwrite
      idempotent like the index stores.

    Candidate discovery is the batch operator's banded equi-join, split
    across the batch boundary: new-vs-indexed via the postings store,
    new-vs-new via a self-join on the batch's own bands — together
    exactly the pairs the one-shot join would emit, never all-pairs.
    Reference: CHANGES.txt:49-53 (the replicator's incremental-validation
    pattern: verify arrivals against accumulated state, never recompute
    the world).
    """
    import json as _json
    import os as _os

    from mysql_time_machine_spark.fsio import MetaFS

    _check_minhash_args(n_hashes, bands)
    fs = MetaFS(sink_dir, spark)
    meta_path = _os.path.join(sink_dir, "_store_meta.json")
    if fs.exists(meta_path):
        meta = _json.loads(fs.read_text(meta_path))
        if meta.get("layout", 1) != _STORE_LAYOUT_VERSION:
            raise ValueError(
                f"index at {sink_dir} uses layout v{meta.get('layout', 1)} "
                f"(bucket-CoW); this build writes v{_STORE_LAYOUT_VERSION} "
                "(epoch-partitioned merge-on-read) — rebuild into a fresh "
                "sink_dir"
            )
        n_buckets = int(meta["n_buckets"])
        # threshold is pinned too: already-shipped epochs judged at the old
        # t cannot be re-judged, so a resume at a different t would make
        # the verdict table a MIXED-threshold artifact instead of a pure
        # function of the corpus (the property the oracle gates)
        if (meta["n_hashes"], meta["bands"], meta["n"], meta["threshold"]) != (
            n_hashes, bands, n, threshold,
        ):
            raise ValueError(
                f"store at {sink_dir} was built with "
                f"(n_hashes={meta['n_hashes']}, bands={meta['bands']}, "
                f"n={meta['n']}, threshold={meta['threshold']}); resuming with "
                "different LSH parameters would make old postings "
                "unmatchable (or mix verdict thresholds) — use a fresh sink_dir"
            )
    else:
        fs.makedirs(sink_dir)
        fs.write_text_atomic(
            meta_path,
            _json.dumps(
                {
                    "n_buckets": n_buckets,
                    "n_hashes": n_hashes,
                    "bands": bands,
                    "n": n,
                    "threshold": threshold,
                    "layout": _STORE_LAYOUT_VERSION,
                }
            ),
        )

    bands_store = _os.path.join(sink_dir, "bands")
    docs_store = _os.path.join(sink_dir, "docs")
    verdicts_store = _os.path.join(sink_dir, "verdicts")

    def _hash_bucket(col):  # md5-hex prefix -> store bucket number
        return _md5_bucket(F.md5(col), n_buckets)

    def _read_buckets(store: str, touched: list[int]):
        dirs = [f"{store}/_bucket={b}" for b in touched if fs.isdir(f"{store}/_bucket={b}")]
        if not dirs:
            return None
        return spark.read.option("basePath", store).parquet(*dirs)

    def _epoch_append(store: str, new_rows: DataFrame, epoch_id: int) -> None:
        """Grow the index by exactly this batch: write ONLY the batch's
        rows under (_bucket, _epoch) — no read of the store, no anti-join,
        no rewrite. A crash-replayed epoch dynamic-overwrites its own
        partitions with identical rows; the residual duplicate risk
        (fold + replayed epoch holding the same posting) is absorbed by
        the read side's candidate ``distinct`` / doc ``dropDuplicates``."""
        (
            new_rows.withColumn("_epoch", F.lit(int(epoch_id)).cast("long"))
            # same clustering rationale as the exact store's upsert: one
            # writer per bucket instead of tasks x buckets files/epoch
            .repartition(F.col("_bucket"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bucket", "_epoch")
            .parquet(store)
        )

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        # ordering guard (fail fast, BEFORE any store write): a non-replay
        # batch must arrive strictly above everything already indexed —
        # the file source orders by mtime, not name, so a back-dated drop
        # would otherwise silently break the verdict table's
        # pure-function-of-corpus property. Replays (epoch_id <= the
        # persisted max epoch) re-deliver already-indexed ids by design.
        cur = _json.loads(fs.read_text(meta_path))
        bounds = batch.agg(
            F.min(F.col(id_col)).alias("lo"), F.max(F.col(id_col)).alias("hi")
        ).head()
        max_indexed = cur.get("max_indexed_id")
        max_epoch = cur.get("max_epoch", -1)
        if (
            bounds["lo"] is not None
            and max_indexed is not None
            and int(epoch_id) > max_epoch
            and bounds["lo"] <= max_indexed
        ):
            raise ValueError(
                f"minhash_dedup_stream: out-of-order arrival — batch min "
                f"{id_col}={bounds['lo']!r} is not above the already-indexed "
                f"max ({max_indexed!r}); verdicts are only a pure function "
                "of the corpus under nondecreasing id arrival (check drop "
                "file mtimes/naming, or rebuild the index)"
            )
        # one projection boundary per derivation stage + persist: Catalyst
        # has no CSE across array HOFs (CollapseProject re-inlines), so the
        # signature work must be pinned before it fans out to banding,
        # self-join, and verification
        shm_df = batch.select(
            F.col(id_col).alias("doc_id"),
            F.transform(word_shingles(text_col, n), lambda s: F.md5(s)).alias("shm"),
        )
        sig = shm_df.select(
            "doc_id", "shm", _minhash_from_shm(F.col("shm"), n_hashes).alias("mh")
        ).persist()
        new_bands = sig.select(
            "doc_id",
            F.explode(_band_structs(F.col("mh"), n_hashes, bands)).alias("bb"),
        ).select(
            "doc_id", "bb.band", "bb.bucket", _hash_bucket(F.col("bb.bucket")).alias("_bucket")
        ).persist()
        try:
            touched = [
                r["_bucket"] for r in new_bands.select("_bucket").distinct().collect()
            ]
            old_bands = _read_buckets(bands_store, touched)
            # new-vs-indexed candidates (postings join, bucket-pruned read)
            cand_parts = []
            if old_bands is not None:
                # other_id < doc_id: under monotone arrival every genuinely
                # earlier doc has a smaller id, so this drops nothing legit —
                # while a replayed batch (crash between the store writes and
                # the checkpoint commit) finds ITS OWN postings already
                # indexed, and without the bound each doc would pair with
                # itself (dup_of = doc_id) and with same-batch peers through
                # the store, breaking replay idempotence
                cand_parts.append(
                    new_bands.alias("nb")
                    .join(old_bands.alias("ob"), ["band", "bucket"])
                    .where(F.col("ob.doc_id") < F.col("nb.doc_id"))
                    .select(
                        F.col("nb.doc_id").alias("doc_id"),
                        F.col("ob.doc_id").alias("other_id"),
                    )
                )
            # new-vs-new candidates (the batch's own banded self-join)
            cand_parts.append(
                new_bands.alias("a")
                .join(new_bands.alias("b"), ["band", "bucket"])
                .where(F.col("b.doc_id") < F.col("a.doc_id"))
                .select(
                    F.col("a.doc_id").alias("doc_id"),
                    F.col("b.doc_id").alias("other_id"),
                )
            )
            cand = cand_parts[0]
            for p in cand_parts[1:]:
                cand = cand.unionByName(p)
            cand = cand.distinct().localCheckpoint(eager=True)

            # verification Jaccard over digest arrays: new side from sig,
            # indexed side from the docs store (bucket-pruned by the
            # candidate counterpart ids)
            other_sh = sig.select(
                F.col("doc_id").alias("other_id"), F.col("shm").alias("other_sh")
            )
            touched_docs = [
                r["_b"]
                for r in cand.select(
                    _hash_bucket(F.col("other_id").cast("string")).alias("_b")
                ).distinct().collect()
            ]
            old_docs = _read_buckets(docs_store, touched_docs)
            if old_docs is not None:
                other_sh = other_sh.unionByName(
                    old_docs.select(
                        F.col("doc_id").alias("other_id"), F.col("shm").alias("other_sh")
                    )
                )
            verified = (
                cand.join(sig.select("doc_id", "shm"), "doc_id")
                .join(other_sh.dropDuplicates(["other_id"]), "other_id")
            )
            # |A ∪ B| = |A| + |B| - |A ∩ B| (distinct arrays) — see
            # minhash_lsh_pairs
            inter = F.size(F.array_intersect("shm", "other_sh"))
            union = F.size("shm") + F.size("other_sh") - inter
            dup_of = (
                verified.where(
                    (inter / F.greatest(union, F.lit(1))) >= F.lit(threshold)
                )
                .groupBy("doc_id")
                .agg(F.min("other_id").alias("dup_of"))
            )
            verdicts = (
                sig.select("doc_id")
                .join(dup_of, "doc_id", "left")
                .select(
                    "doc_id",
                    "dup_of",
                    F.col("dup_of").isNull().alias("kept"),
                    F.lit(int(epoch_id)).alias("_epoch"),
                )
            )
            verdicts.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("_epoch").parquet(verdicts_store)

            # grow the index by exactly this batch (idempotent on replay)
            _epoch_append(
                bands_store,
                new_bands.select("band", "bucket", "doc_id", "_bucket"),
                epoch_id,
            )
            _epoch_append(
                docs_store,
                sig.select(
                    "doc_id", "shm", _hash_bucket(F.col("doc_id").cast("string")).alias("_bucket")
                ),
                epoch_id,
            )
            # advance the ordering watermark LAST (after the store writes):
            # a crash before this point replays the epoch, which the guard
            # admits via max_epoch
            if bounds["hi"] is not None:
                hi = bounds["hi"]
                cur["max_indexed_id"] = (
                    hi if max_indexed is None else max(max_indexed, hi)
                )
            cur["max_epoch"] = max(max_epoch, int(epoch_id))
            fs.write_text_atomic(meta_path, _json.dumps(cur))
        finally:
            new_bands.unpersist()
            sig.unpersist()

    static = spark.read.parquet(source_path)
    reader = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if _os.path.isfile(source_path):
        base, fname = _os.path.split(source_path)
        stream = reader.option("pathGlobFilter", fname).parquet(base)
    else:
        stream = reader.parquet(source_path)
    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", _os.path.join(sink_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # a zero-data source either runs no batch (no store dir) or one empty
    # batch (a store dir holding only _SUCCESS — no partitions to infer a
    # schema from); both return the empty verdict shape, typed off id_col
    has_epochs = fs.isdir(verdicts_store) and any(
        e.startswith("_epoch=") for e in fs.listdir(verdicts_store)
    )
    if not has_epochs:
        id_type = dict(static.dtypes)[id_col]
        return spark.createDataFrame(
            [], f"doc_id {id_type}, dup_of {id_type}, kept boolean"
        )
    return spark.read.parquet(verdicts_store).drop("_epoch")


def compact_minhash_stream_index(spark, sink_dir: str) -> dict[str, dict[str, int]]:
    """``rewrite_data_files`` analogue for the streaming LSH index: fold
    each store's accumulated ``_epoch=N`` partitions into one file set per
    bucket under a fresh ``_epoch=-K``, dropping crash-replay duplicates
    (postings are a set; docs are unique per doc_id), then remove the
    superseded partitions — candidate lookups go back to opening ~one
    file per touched bucket. Run from a maintenance window (no concurrent
    stream writer). Crash-safe like ``compact_exact_store``: the staged
    fold is renamed in at a fresh ordinal and duplicates left by a crash
    are absorbed by the read side's ``distinct`` / ``dropDuplicates``."""
    import os as _os

    from mysql_time_machine_spark.fsio import MetaFS

    fs = MetaFS(sink_dir, spark)
    out: dict[str, dict[str, int]] = {}
    for name, dedupe in (
        ("bands", lambda df: df.select("band", "bucket", "doc_id", "_bucket").distinct()),
        (
            "docs",
            lambda df: df.dropDuplicates(["doc_id"]).select("doc_id", "shm", "_bucket"),
        ),
    ):
        store = _os.path.join(sink_dir, name)
        if not fs.isdir(store):
            out[name] = {"folded_buckets": 0, "dropped_epoch_partitions": 0}
            continue
        fold_k = _next_fold_ordinal(fs, store)
        tmp = _os.path.join(sink_dir, f"_compact_tmp_{name}")
        fs.rmtree(tmp)
        (
            dedupe(spark.read.parquet(store))
            .repartition("_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(tmp)
        )
        out[name] = _fold_install(fs, store, tmp, fold_k)
    return out
