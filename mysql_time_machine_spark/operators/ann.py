"""Approximate-nearest-neighbor search over an embedding column.

Two strategies, one answer shape (vec_id, score):

* ``brute_force_topk`` — exact cosine top-k: one scan, one reduce. The
  correctness baseline, and at 100 TB still the right plan when the query
  batch is small (scan is embarrassingly parallel; topK is a
  TakeOrderedAndProject, no full sort).

* ``ivf_topk`` — IVF-style two-stage: vectors are assigned to their
  nearest of ``nlist`` deterministic centroids (here: the first ``nlist``
  vectors by id — swap in k-means centroids in production); a query probes
  only the ``nprobe`` closest centroid partitions. At scale the assignment
  is precomputed and the table is clustered/partitioned by ``centroid_id``
  so a probe prunes (nlist - nprobe)/nlist of the data *at the file level*.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mysql_time_machine_spark.functions.similarity import cosine, lit_vec


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    q = lit_vec(query_vec)
    return (
        embeddings.select(F.col(id_col), cosine(F.col(vec_col), q).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def brute_force_topk_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k for a BATCH of queries in ONE job — the serving
    shape (don't run Q separate topk jobs over the same 100-TB scan).

    Plan: broadcast the (small) query table, score every (vector, query)
    pair map-side (cosine stays in codegen), then a TWO-STAGE distributed
    top-k: stage 1 is a NARROW per-partition reduction — a streaming
    mapInPandas kernel holding Q bounded top-k buffers (Catalyst has no
    top-k aggregate; a partial collect_list would ship the full
    partition-local lists through the exchange) — and stage 2 merges the
    ≤ P×Q×k survivors per query with one tiny aggregate. The only
    exchange in the job carries Q×P×k rows, never N×Q scored rows; no
    Window, no global sort. Tie-break (score desc, id asc) matches
    brute_force_topk exactly (test invariant)."""
    import pandas as pd

    scored = embeddings.join(F.broadcast(queries)).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("score"),
    )

    def local_topk(batches):
        best: dict = {}
        for pdf in batches:
            for qid, grp in pdf.groupby(query_id_col, sort=False):
                cur = grp if best.get(qid) is None else pd.concat(
                    [best[qid], grp], ignore_index=True
                )
                best[qid] = cur.sort_values(
                    ["score", id_col], ascending=[False, True], kind="mergesort"
                ).head(k)
        for v in best.values():
            yield v

    local = scored.mapInPandas(local_topk, scored.schema)
    ent = F.struct((-F.col("score")).alias("ns"), F.col(id_col).alias("id"))
    merged = local.groupBy(query_id_col).agg(
        F.slice(F.array_sort(F.collect_list(ent)), 1, k).alias("top")
    )
    return merged.select(
        query_id_col, F.explode("top").alias("e")
    ).select(
        F.col(query_id_col),
        F.col("e.id").alias(id_col),
        (-F.col("e.ns")).alias("score"),
    )


def seed_centroids(
    embeddings: DataFrame,
    nlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic seed centroids: the first nlist vectors by id. The
    cheapest reproducible choice — refine with ``kmeans_centroids``, or
    seed better with ``seed_centroids_pp``."""
    return embeddings.where(F.col(id_col) < nlist).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid_vec")
    )


def _guard_seedable(embeddings: DataFrame, nlist: int, vec_col: str, op: str) -> None:
    """Fail fast with actionable errors instead of an opaque TypeError on
    empty input or silently-duplicated centroids on low-cardinality
    input: seeding nlist centers needs >= nlist distinct vectors (one
    narrow countDistinct over a 64-bit vector hash)."""
    if nlist < 1:
        raise ValueError(f"{op}: nlist must be >= 1, got {nlist}")
    n_distinct = embeddings.agg(
        F.countDistinct(F.xxhash64(F.col(vec_col))).alias("n")
    ).head()["n"]
    if n_distinct == 0:
        raise ValueError(f"{op}: embeddings is empty")
    if n_distinct < nlist:
        raise ValueError(
            f"{op}: only {n_distinct} distinct vectors for nlist={nlist}; "
            "every extra center would duplicate an existing one — lower "
            "nlist or add data"
        )


def seed_centroids_pp(
    embeddings: DataFrame,
    nlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic k-means++-style seeding (farthest-first traversal,
    Gonzalez 1985 — the maximin rule k-means++ randomizes): center 0 is
    the md5-ordered pick (a reproducible pseudo-random draw, so a
    pathological id ordering can't choose it), and each next center is the
    point FARTHEST from the chosen set (argmin of max-cosine, ties to the
    lowest id). Unlike first-nlist-ids seeding this cannot collapse into
    one region when the low ids happen to be neighbors.

    Fully deterministic AND oracle-expressible: every quantity is an exact
    function of the data (no RNG, no ln/exp whose last-ulp could diverge
    across engines), so the unrolled SQL twin reproduces the seeds
    bit-for-bit. Cost: nlist narrow passes (broadcast centers + map-side
    partial max + TakeOrdered(1)) — a one-time index-build step; at
    extreme nlist use ``seed_centroids_parallel`` (k-means||-style
    oversampling, O(log nlist) passes). Centroid ids are the pick order
    0..nlist-1."""
    spark = embeddings.sparkSession
    _guard_seedable(embeddings, nlist, vec_col, "seed_centroids_pp")
    first = (
        embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(1)
        .head()
    )
    chosen = [(0, [float(x) for x in first["_v"]])]
    for k in range(1, nlist):
        cdf = spark.createDataFrame(chosen, "centroid_id int, centroid_vec array<float>")
        nxt = (
            embeddings.crossJoin(F.broadcast(cdf))
            .groupBy(id_col)
            .agg(
                F.any_value(vec_col).alias("_v"),
                F.max(cosine(F.col(vec_col), F.col("centroid_vec"))).alias("_mc"),
            )
            .orderBy(F.asc("_mc"), F.asc(id_col))
            .limit(1)
            .head()
        )
        chosen.append((k, [float(x) for x in nxt["_v"]]))
    return spark.createDataFrame(chosen, "centroid_id int, centroid_vec array<float>")


def seed_centroids_parallel(
    embeddings: DataFrame,
    nlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    oversample: int | None = None,
    rounds: int | None = None,
) -> DataFrame:
    """k-means||-style seeding (Bahmani et al. 2012, "Scalable k-means++")
    for large nlist, where ``seed_centroids_pp``'s nlist sequential driver
    round-trips become the bottleneck: O(log nlist) DISTRIBUTED passes
    each sample ~``oversample`` candidates with probability proportional
    to their cost (cosine distance to the already-chosen pool), then the
    pool — control-plane-sized, ~oversample x rounds — is reduced to
    nlist centers driver-side by cluster-size-WEIGHTED greedy
    farthest-first (the paper reclusters the weighted pool with
    k-means++; the maximin rule is its deterministic counterpart, same
    shape ``seed_centroids_pp`` uses).

    Determinism without RNG: the Bernoulli draw for point x in round r
    uses u = md5(x.id ':' r) mapped to [0,1) — a reproducible hash draw,
    the same trick the row-key salt uses (CHANGES.txt:102-104). Every
    quantity is an exact function of the data and the driver reduce uses
    left-to-right float sums, so for FIXED (nlist, oversample, rounds)
    the whole seeding unrolls into SQL — the sim_kmeanspar_assign oracle
    reproduces it bit-for-bit; pytest additionally covers determinism,
    quality vs first-nlist seeding, and the O(log nlist) pass count.
    Centroid ids are the pick order 0..nlist-1."""
    import math

    spark = embeddings.sparkSession
    _guard_seedable(embeddings, nlist, vec_col, "seed_centroids_parallel")
    l = oversample or 2 * nlist
    n_rounds = rounds or max(1, math.ceil(math.log2(max(2, nlist))))

    first = (
        embeddings.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(1)
        .head()
    )
    first_id = first["_id"]
    pool: dict = {first_id: [float(x) for x in first["_v"]]}

    def _pool_df():
        return F.broadcast(
            spark.createDataFrame(
                [(v,) for _k, v in sorted(pool.items())], "centroid_vec array<float>"
            )
        )

    def _scored():
        return (
            embeddings.crossJoin(_pool_df())
            .groupBy(id_col)
            .agg(
                F.any_value(vec_col).alias("_v"),
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0) - F.max(cosine(F.col(vec_col), F.col("centroid_vec"))),
                ).alias("_cost"),
            )
        )

    for r in range(n_rounds):
        scored = _scored().persist()
        try:
            phi = scored.agg(F.sum("_cost")).head()[0] or 0.0
            if phi <= 0:  # every point coincides with the pool already
                break
            u = (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{r}"))),
                        1,
                        12,
                    ),
                    16,
                    10,
                ).cast("double")
                / F.lit(float(16**12))
            )
            picked = (
                scored.where(u < F.lit(float(l)) * F.col("_cost") / F.lit(phi))
                .select(id_col, "_v")
                .collect()
            )
        finally:
            scored.unpersist()
        for row in picked:
            pool.setdefault(row[id_col], [float(x) for x in row["_v"]])

    if len(pool) < nlist:
        # sampling undershot (tiny data / low oversample): exact top-up —
        # the (nlist - pool) farthest points, one deterministic pass
        extra = (
            _scored()
            .orderBy(F.desc("_cost"), F.asc(id_col))
            .limit(nlist - len(pool))
            .collect()
        )
        for row in extra:
            pool.setdefault(row[id_col], [float(x) for x in row["_v"]])

    # weight candidates by the population they attract, then reduce
    cand_ids = sorted(pool)
    cand_df = spark.createDataFrame(
        [(i, pool[k]) for i, k in enumerate(cand_ids)],
        "centroid_id long, centroid_vec array<float>",
    )
    counts = {
        r["centroid_id"]: r["n"]
        for r in _assign(embeddings, cand_df, id_col, vec_col)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }

    # plain left-to-right float64 arithmetic (NOT numpy): the pool is
    # control-plane-sized, and left-to-right sums are what DuckDB's
    # list_sum and Spark's F.aggregate fold compute — so the unrolled SQL
    # oracle (sim_kmeanspar_assign) reproduces every score bit-for-bit
    # (numpy's pairwise/SIMD summation diverges in the last ulp, which
    # can flip an argmax tie)
    cand_vecs = [pool[k] for k in cand_ids]

    def _dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    norms = [math.sqrt(_dot(v, v)) or 1.0 for v in cand_vecs]

    def _cos_ij(i, j):
        return _dot(cand_vecs[i], cand_vecs[j]) / (norms[i] * norms[j])

    w = [float(counts.get(i, 0)) for i in range(len(cand_ids))]
    anchor = cand_ids.index(first_id)  # the md5-ordered global first pick
    chosen = [anchor]
    max_cos = [_cos_ij(i, anchor) for i in range(len(cand_ids))]
    while len(chosen) < nlist:
        best_i, best_s = -1, 0.0
        taken = set(chosen)
        for i in range(len(cand_ids)):
            if i in taken:
                continue
            s = w[i] * max(0.0, 1.0 - max_cos[i])
            if s > best_s:  # strict: the FIRST (lowest) index wins ties
                best_i, best_s = i, s
        if best_i < 0:
            raise ValueError(
                "seed_centroids_parallel: candidate pool collapsed to "
                f"{len(chosen)} distinct centers (< nlist={nlist}); raise "
                "oversample/rounds"
            )
        chosen.append(best_i)
        for i in range(len(cand_ids)):
            c = _cos_ij(i, best_i)
            if c > max_cos[i]:
                max_cos[i] = c
    return spark.createDataFrame(
        [(k, [float(x) for x in cand_vecs[i]]) for k, i in enumerate(chosen)],
        "centroid_id int, centroid_vec array<float>",
    )


def kmeans_centroids(
    embeddings: DataFrame,
    nlist: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Deterministic Lloyd iterations, all DataFrame ops: assign every
    vector to its nearest centroid (broadcast cross-join + map-side-combined
    max_by argmin), then recompute each centroid as the element-wise mean of
    its members (posexplode -> groupBy(centroid, dim).avg — partial
    aggregation, shuffle rows = N x dim, never the vectors themselves).

    Iterative, so no single-SQL oracle exists — correctness is covered by
    pytest (determinism + assignment-quality vs the seed centroids). The
    driver loop is ``iters`` Spark jobs; the per-iteration centroid set
    (nlist rows) is collected to cut lineage, the data-sized work stays
    distributed. Empty clusters keep their previous centroid. Pass
    ``seeds=seed_centroids_pp(...)`` for spread-out deterministic seeding."""
    spark = embeddings.sparkSession
    cents = seeds if seeds is not None else seed_centroids(embeddings, nlist, id_col, vec_col)
    for _ in range(iters):
        assigned = _assign(embeddings, cents, id_col, vec_col)
        means = (
            assigned.select("centroid_id", F.posexplode(vec_col).alias("dim", "x"))
            .groupBy("centroid_id", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select(
                "centroid_id",
                F.transform("dm", lambda s: s["m"].cast("float")).alias("centroid_vec"),
            )
        )
        prev = {r["centroid_id"]: r["centroid_vec"] for r in cents.collect()}
        new = {r["centroid_id"]: r["centroid_vec"] for r in means.collect()}
        merged = [(cid, new.get(cid, vec)) for cid, vec in sorted(prev.items())]
        cents = spark.createDataFrame(
            merged, "centroid_id long, centroid_vec array<float>"
        )
    return cents


def _assign(embeddings: DataFrame, cents: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    scored = embeddings.crossJoin(F.broadcast(cents)).withColumn(
        "cscore", cosine(F.col(vec_col), F.col("centroid_vec"))
    )
    best = scored.groupBy(id_col).agg(
        F.max_by(
            F.struct(F.col(vec_col).alias("v"), F.col("centroid_id").alias("cid")),
            F.struct(F.col("cscore").alias("s"), (-F.col("centroid_id")).alias("tb")),
        ).alias("b")
    )
    return best.select(
        F.col(id_col), F.col("b.v").alias(vec_col), F.col("b.cid").alias("centroid_id")
    )


def assign_centroids(
    embeddings: DataFrame,
    nlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Stage 0: centroid assignment. Default centroids = first nlist
    vectors by id (deterministic, oracle-expressible); pass
    ``centroids=kmeans_centroids(...)`` for refined ones. Broadcast
    cross-join + argmin — nlist is tiny, the join is map-side.

    The argmin is ``groupBy(id).agg(max_by(...))`` — map-side combinable
    partial aggregation, so the exchange carries ONE row per vector instead
    of nlist scored candidates (and no Sort/Window at all). Tie-break is
    (highest cscore, lowest centroid_id), encoded as max over the ordering
    struct (cscore, -centroid_id)."""
    cents = centroids if centroids is not None else seed_centroids(embeddings, nlist, id_col, vec_col)
    return _assign(embeddings, cents, id_col, vec_col)


def assign_centroids_topp(
    embeddings: DataFrame,
    nlist: int = 8,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Multi-probe assignment: one row per (vector, cell) for the vector's
    ``probes`` closest centroid cells — the standard IVF recall lever (a
    near-dup pair straddling two cells is recovered once either member
    probes the other's home cell).

    Same broadcast cross-join as ``assign_centroids``; the top-p selection
    is a per-key ``collect_list`` of at most nlist (tiny) scored structs,
    array-sorted and sliced — no Sort/Window over the data, and the
    exchange still carries one aggregated row per vector before the
    explode. Tie-break matches ``assign_centroids``: (cscore desc,
    centroid_id asc), so probes=1 reproduces it exactly."""
    cents = centroids if centroids is not None else seed_centroids(embeddings, nlist, id_col, vec_col)
    scored = embeddings.crossJoin(F.broadcast(cents)).withColumn(
        "cscore", cosine(F.col(vec_col), F.col("centroid_vec"))
    )
    top = scored.groupBy(id_col).agg(
        F.any_value(vec_col).alias(vec_col),
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct((-F.col("cscore")).alias("ns"), F.col("centroid_id").alias("cid"))
                )
            ),
            1,
            probes,
        ).alias("tops"),
    )
    return top.select(
        F.col(id_col), F.col(vec_col), F.explode("tops.cid").alias("centroid_id")
    )


def write_clustered(
    embeddings: DataFrame,
    path: str,
    nlist: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> None:
    """Materialize the IVF index layout ON DISK: the table partitioned by
    ``centroid_id`` (one directory per cell) plus the centroid table at
    ``<path>/_centroids`` (the ``_`` prefix hides it from the data scan,
    the same convention as ``_metadata``). This is the 100-TB shape the
    ivf_topk docstring promises: a probe then prunes (nlist - nprobe)/nlist
    of the data at the FILE level — Catalyst partition pruning, no scan.

    ``path`` must be a shared filesystem on a real cluster (same contract
    as any Spark write); there is deliberately no driver-local default."""
    cents = centroids if centroids is not None else seed_centroids(embeddings, nlist, id_col, vec_col)
    assigned = assign_centroids(embeddings, nlist, id_col, vec_col, centroids=cents)
    # STATIC overwrite regardless of session config: dynamic mode replaces
    # only the partitions present in the data, so re-clustering with a
    # smaller nlist would leave stale centroid_id=... directories that the
    # probe could then scan against the new _centroids table
    assigned.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("centroid_id").parquet(path)
    cents.coalesce(1).write.mode("overwrite").parquet(f"{path}/_centroids")


def probe_cells(centroids: DataFrame, query_vec: list[float], nprobe: int) -> list[int]:
    """The nprobe centroid cells closest to the query (cosine desc, then
    centroid_id — the assign_centroids tie-break). Driver-side: nlist rows."""
    q = lit_vec(query_vec)
    rows = (
        centroids.select("centroid_id", cosine(F.col("centroid_vec"), q).alias("qscore"))
        .orderBy(F.desc("qscore"), F.col("centroid_id"))
        .limit(nprobe)
        .collect()
    )
    return [int(r["centroid_id"]) for r in rows]


def ivf_topk_clustered(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ivf_topk over a ``write_clustered`` layout: the centroid table is a
    tiny read, cell selection happens driver-side, and the data scan caps
    at the probed partitions — ``centroid_id IN (...)`` is a partition
    filter, so unprobed cells' files are never opened. Same answer as
    ``ivf_topk`` with the same centroids/nprobe (test invariant)."""
    cents = spark.read.parquet(f"{path}/_centroids")
    probed = probe_cells(cents, query_vec, nprobe)
    q = lit_vec(query_vec)
    data = spark.read.parquet(path).where(F.col("centroid_id").isin(probed))
    return (
        data.select(F.col(id_col), cosine(F.col(vec_col), q).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    q = lit_vec(query_vec)
    cents = centroids if centroids is not None else seed_centroids(embeddings, nlist, id_col, vec_col)
    assigned = assign_centroids(embeddings, nlist, id_col, vec_col, centroids=cents)
    probed = (
        cents.select("centroid_id", cosine(F.col("centroid_vec"), q).alias("qscore"))
        .orderBy(F.desc("qscore"), F.col("centroid_id"))
        .limit(nprobe)
    )
    return (
        assigned.join(F.broadcast(probed.select("centroid_id")), "centroid_id")
        .select(F.col(id_col), cosine(F.col(vec_col), q).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )
