"""Transaction reassembly + last-writer-wins collapse (SURVEY.md §2.5 A1/A2).

The reference buffers events per transaction uuid (`uuidBuffer`,
/root/reference/CHANGES.txt:168-170), applies them in commit order, and lets
HBase keep one version per cell timestamp; the *final* state of a row is the
last-writer-wins fold of its change events in (pGTID, binlog position) order
(CHANGES.txt:19-20,37,82).

Fold semantics per key (repo, path), in ascending
(gtid_seq, log_file, log_pos, seq_in_txn) order:

  I : image := after                      (full post-image)
  U : image := image <- after             (merge cells; `after` may be a
                                           partial changed-cells map,
                                           CHANGES.txt:173)
  D : image := tombstone                  (key-only, CHANGES.txt:184)

Collapsed output carries TWO markers the sink consumes:

* ``row_status`` — the reference's d:row_status cell (CHANGES.txt:174-175):
  the op type of the key's LAST event (I/U/D), a lineage column on the
  target table.
* ``full_image`` — how the sink must APPLY the image: true means the image
  is the complete row state (the epoch contained a reset I or D, so the
  post-reset fold supersedes everything stored) and must REPLACE the
  stored row; false means the image is a partial cell set to merge
  cell-wise. Merging a post-reset image onto the stored pre-reset row
  would resurrect stale cells (deleted-then-partially-updated keys, or
  post-I images that legitimately lack a column). Relies on the binlog
  invariant that I events carry full post-images.

Two implementations (equality is a test invariant):

* ``collapse_events_sorted`` — one salted-bucket JVM shuffle + Tungsten
  sort by (key, order), then ONE streaming ``mapInPandas`` pass: each
  Arrow batch collapses its complete keys with vectorized
  ``drop_duplicates``, and the key straddling a batch boundary is carried
  as its last write per cell (plus its last event and leading reset), so
  Python work per batch stays bounded under a hot key. Inside, only events
  at-or-after each key's last I/D reach Python (``live_events``).

* ``collapse_events_sql`` — pure Catalyst: per-key last reset via
  ``max_by``, then per-*cell* LWW via explode + ``max_by``. No Python at
  all; skew is diffused across (key, cell) pairs; whole-stage codegen +
  map-side partial aggregation apply. This is the 100-TB path.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_time_machine_spark.functions.core import salted_shuffle_key

#: columns that define the total apply order (per key)
ORDER_COLS = ["gtid_seq", "log_file", "log_pos", "seq_in_txn"]

COLLAPSED_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("row_status", T.StringType(), False),
        T.StructField("image", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("full_image", T.BooleanType(), False),
        T.StructField("gtid_seq", T.LongType(), True),
        T.StructField("schema_version", T.IntegerType(), True),
        T.StructField("updated_ts", T.TimestampType(), True),
    ]
)


def _with_ord(events: DataFrame) -> DataFrame:
    return events.withColumn(
        "_ord",
        F.struct(F.col("gtid_seq"), F.col("log_file"), F.col("log_pos"), F.col("seq_in_txn")),
    )


def live_events(events: DataFrame, broadcast_reset: bool = False) -> DataFrame:
    """The sorted kernel's JVM-side pre-reduction: keep only
    events at-or-after each key's LAST reset (I or D).

    The per-key last-reset aggregate shuffles only (key, order-struct) —
    map-side combined, no image maps — and the subsequent join+filter lets
    whole-stage codegen discard every dead event before anything heavier
    touches it. On churny logs this is a 10-100x data reduction; in the
    no-reset worst case (pure partial updates) it degrades to a pass-through
    with one cheap extra aggregate.

    ``broadcast_reset`` hints the key-sized aggregate side as a broadcast.
    Batch callers don't need it (AQE sees the runtime size and converts
    the SortMergeJoin itself), but inside a STREAMING micro-batch AQE is
    unavailable and Catalyst plans a full SMJ — one exchange + sort of
    every raw event just to apply a key-sized filter. The streaming job
    sets it from the per-epoch stats aggregate (rows < big_batch_rows, so
    the distinct-key side is provably bounded); callers who cannot bound
    the key count must leave it off.
    """
    ev = _with_ord(events.where(F.col("op").isin("I", "U", "D")))
    last_reset = ev.groupBy("repo", "path").agg(
        F.max(F.when(F.col("op").isin("I", "D"), F.col("_ord"))).alias("_lr")
    )
    if broadcast_reset:
        last_reset = F.broadcast(last_reset)
    return (
        ev.join(last_reset, ["repo", "path"])
        .where(F.col("_lr").isNull() | (F.col("_ord") >= F.col("_lr")))
        .drop("_lr")
    )


def _full_image_flags(pdf: pd.DataFrame, meta: pd.DataFrame) -> "pd.Series":
    """full_image per key: true iff ANY surviving event is a reset (I or D)
    — the collapsed image is then the complete post-reset row state and the
    sink must replace, not cell-merge."""
    resets = pdf.loc[pdf["op"].isin(["I", "D"]), ["repo", "path"]].drop_duplicates()
    flagged = meta.merge(resets.assign(_hr=True), on=["repo", "path"], how="left")
    return flagged["_hr"].notna().to_numpy()


def collapse_events_sorted(
    events: DataFrame, n_buckets: int = 64, broadcast_reset: bool = False
) -> DataFrame:
    """One JVM shuffle on the salted bucket + Tungsten
    sortWithinPartitions((key, order)) + a STREAMING mapInPandas kernel.

    The sort runs in whole-stage-codegen'd JVM code (spillable,
    radix-assisted), and Python does a single linear pass of vectorized
    drop_duplicates per Arrow batch with a bounded carry for the key that
    spans a batch boundary (_collapse_sorted_batches).
    """
    needed = ["repo", "path", "op", "after", "ts", "schema_version"] + ORDER_COLS
    # JVM-side pre-reduction: Python only ever sees events that can still
    # influence a final image (see live_events)
    live = live_events(
        events.select(*needed), broadcast_reset=broadcast_reset
    ).drop("_ord")
    # flatten the image map JVM-side: Arrow then ships plain string columns
    # (the map type is rebuilt only for the collapsed output)
    flat = live.select(
        "repo", "path", "op", "ts", "schema_version", *ORDER_COLS,
        F.explode_outer("after").alias("cell", "value"),
    )
    arranged = (
        flat.repartition(n_buckets, salted_shuffle_key(n_buckets))
        .sortWithinPartitions("repo", "path", *ORDER_COLS)
    )
    return arranged.mapInPandas(_collapse_sorted_batches, COLLAPSED_SCHEMA)


def _collapse_sorted_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The streaming kernel over (key, order)-sorted flat batches: collapse
    every complete key of a batch, and carry the trailing key (which may
    continue in the next batch) as its _fold_carry survivors only — so a
    hot key spanning many batches costs O(its distinct cells) per batch,
    not O(its events so far)."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if pdf.empty:
            continue
        # the input is key-sorted, so the trailing key's rows are a suffix
        is_last = (pdf["repo"] == pdf["repo"].iat[-1]) & (pdf["path"] == pdf["path"].iat[-1])
        split = len(pdf) - int(is_last.sum())
        carry = _fold_carry(pdf.iloc[split:])
        if split:
            yield _collapse_sorted_flat(pdf.iloc[:split])
    if carry is not None and len(carry):
        yield _collapse_sorted_flat(carry)


def _fold_carry(tail: pd.DataFrame) -> pd.DataFrame:
    """The rows of ONE key's (order-sorted) flat live events that decide its
    collapse: the last write per cell (the image), the last row (row_status
    and lineage meta), and the first row when it is a reset — live_events
    leaves at most one reset per key and puts it first, so that row alone
    keeps full_image. Later rows of the key then fold onto this subset
    exactly as onto the full prefix (last-writer-wins composes). Selected
    by a positional mask, so the carry stays in (key, order) order without a
    re-sort and holds at most (distinct cells + 2) rows."""
    cell = tail["cell"]
    keep = cell.notna().to_numpy() & ~cell.duplicated(keep="last").to_numpy()
    keep[-1] = True
    if tail["op"].iat[0] in ("I", "D"):
        keep[0] = True
    return tail[keep]


def _collapse_sorted_flat(pdf: pd.DataFrame) -> pd.DataFrame:
    """Collapse (key, order)-sorted FLATTENED (one row per event-cell) live
    events. Invariant (guaranteed by live_events upstream): per key, at most
    one reset event (I or D) survives, and it is the first in order — so
    per-(key, cell) last-writer-wins over the survivors is exact, including
    partial updates, deletes, and resurrection-after-delete.

    Everything heavy is vectorized pandas (drop_duplicates); the only
    Python loop runs over the COLLAPSED (key, cell) pairs — the output
    size, not the event count."""
    cols = [f.name for f in COLLAPSED_SCHEMA.fields]
    # last event per key -> row_status + lineage meta
    meta = pdf.drop_duplicates(subset=["repo", "path"], keep="last")
    # last write per (key, cell) -> final image cells
    final_cells = pdf[pdf["cell"].notna()].drop_duplicates(
        subset=["repo", "path", "cell"], keep="last"
    )
    images: dict[tuple, dict] = {}
    for repo, path, cell, value in zip(
        final_cells["repo"].to_numpy(),
        final_cells["path"].to_numpy(),
        final_cells["cell"].to_numpy(),
        final_cells["value"].to_numpy(),
    ):
        images.setdefault((repo, path), {})[cell] = value
    out = {
        "repo": meta["repo"].to_numpy(),
        "path": meta["path"].to_numpy(),
        "row_status": meta["op"].to_numpy(),
        "image": [
            None if op == "D" else images.get((r, p), {})
            for r, p, op in zip(meta["repo"].to_numpy(), meta["path"].to_numpy(), meta["op"].to_numpy())
        ],
        "full_image": _full_image_flags(pdf, meta),
        "gtid_seq": meta["gtid_seq"].to_numpy(),
        "schema_version": meta["schema_version"].to_numpy(),
        "updated_ts": meta["ts"].to_numpy(),
    }
    return pd.DataFrame(out, columns=cols)


def collapse_events_sql(events: DataFrame, *, join_prefilter: bool = False) -> DataFrame:
    """Pure-Catalyst collapse: no Python, cell-level parallel LWW.

    Two physical shapes, bit-identical output (parity- and oracle-gated):

    ``join_prefilter=True`` — the BATCH regime shape: the per-key
    aggregate's reset bound is joined back against the raw events to drop
    dead (pre-reset) events BEFORE the cell explode. Under batch AQE the
    key-sized aggregate side becomes a broadcast, so the join costs no
    exchange of the raw stream and the explode + per-cell aggregate then
    run over the post-reset survivors only (a 2-10x row reduction on
    churny logs). This was the round-5 shape; round 6's aggregate-first
    rewrite cost the batch leg ~1.3x (BENCH_r06 4.80 s vs r5 3.85 s), so
    the regime split is now explicit instead of one-shape-fits-both.

    ``join_prefilter=False`` (default) — the STREAMING shape,
    AGGREGATE-FIRST — no operator ever exchanges raw events:

    1. per key: the last event + last reset (I or D) order key, one
       map-side-combinable ``max_by`` aggregate (shuffle carries ~keys);
    2. per (key, cell): the last write and its order key over ALL non-D
       events — also map-side combined (shuffle carries ~keys x cells).
       A cell is live iff its LAST write is at-or-after the key's last
       reset: any earlier write is superseded either by the reset or by
       the later write itself, so filtering the per-cell aggregate
       AGAINST the reset bound afterwards is exactly equivalent to
       pre-filtering events — but needs no join against the raw stream;
    3. join the two aggregate outputs (both ~key-sized) and reassemble
       the image with ``map_from_entries``.

    Inside a STREAMING micro-batch AQE is unavailable, so the
    join_prefilter shape would plan a full SortMergeJoin — a full-data
    exchange+sort per epoch that capped streaming N->4N efficiency at
    0.36 (BENCH/STREAM_SCALING_r6.md). The aggregate-first shape never
    materializes that exchange; the streaming sql escalation keeps it.
    """
    ev = events.where(F.col("op").isin("I", "U", "D")).withColumn(
        "_ord",
        F.struct(
            F.col("gtid_seq"), F.col("log_file"), F.col("log_pos"), F.col("seq_in_txn")
        ),
    )

    last = ev.groupBy("repo", "path").agg(
        F.max_by(F.struct("op", "gtid_seq", "schema_version", "ts"), F.col("_ord")).alias("_last"),
        # max over a nullable struct ignores NULLs: the latest I/D order key
        F.max(F.when(F.col("op").isin("I", "D"), F.col("_ord"))).alias("_last_reset"),
    )

    if join_prefilter:
        # batch shape: drop dead events before the explode — AQE turns the
        # key-sized aggregate side into a broadcast, so the raw stream is
        # never exchanged for this join
        live_cells = (
            ev.join(last.select("repo", "path", "_last_reset"), ["repo", "path"])
            .where(
                F.col("_last_reset").isNull()
                | (F.col("_ord") >= F.col("_last_reset"))
            )
            .where(F.col("op") != "D")
            .select("repo", "path", "_ord", F.explode_outer("after").alias("k", "v"))
            .where(F.col("k").isNotNull())
            .groupBy("repo", "path", "k")
            .agg(F.max_by("v", F.col("_ord")).alias("v"))
        )
    else:
        cells = (
            ev.where(F.col("op") != "D")
            .select("repo", "path", "_ord", F.explode_outer("after").alias("k", "v"))
            .where(F.col("k").isNotNull())
            .groupBy("repo", "path", "k")
            .agg(
                F.max_by("v", F.col("_ord")).alias("v"),
                F.max(F.col("_ord")).alias("_cell_ord"),
            )
        )
        # a cell is live iff its LAST write is at-or-after the key's last
        # reset (any earlier write is superseded either way), so filtering
        # the per-cell aggregate against the reset bound is exact
        live_cells = (
            cells.join(last.select("repo", "path", "_last_reset"), ["repo", "path"])
            .where(
                F.col("_last_reset").isNull()
                | (F.col("_cell_ord") >= F.col("_last_reset"))
            )
        )

    images = live_cells.groupBy("repo", "path").agg(
        F.map_from_entries(F.collect_list(F.struct("k", "v"))).alias("image")
    )

    return (
        last.join(images, ["repo", "path"], "left")
        .select(
            "repo",
            "path",
            F.col("_last.op").alias("row_status"),
            # a live key with NO surviving cells (e.g. an INSERT carrying an
            # empty post-image) is an EMPTY map, not NULL — only deletes are
            # NULL (kernel-equality invariant with the sorted kernel)
            F.when(
                F.col("_last.op") == "D", F.lit(None).cast("map<string,string>")
            ).otherwise(
                F.coalesce(
                    F.col("image"),
                    F.map_from_arrays(
                        F.array().cast("array<string>"), F.array().cast("array<string>")
                    ),
                )
            ).alias("image"),
            # a surviving I/D means the image is the FULL post-reset row
            # state: the sink replaces instead of cell-merging
            F.col("_last_reset").isNotNull().alias("full_image"),
            F.col("_last.gtid_seq").alias("gtid_seq"),
            F.col("_last.schema_version").alias("schema_version"),
            F.col("_last.ts").alias("updated_ts"),
        )
    )


def materialize(collapsed: DataFrame, business_columns: Iterable[tuple[str, str]]) -> DataFrame:
    """Project the string-map image onto the active schema's column set.

    Rows whose last write predates a DDL simply lack the new key in their
    image map and read as NULL — the active-schema semantics of
    CHANGES.txt:44-46 without any batch splitting.
    Tombstones (row_status='D') are kept: the sink turns them into deletes.
    """
    from mysql_time_machine_spark.functions.core import materialize_cell

    cols = [F.col("repo"), F.col("path")]
    for name, typ in business_columns:
        cols.append(materialize_cell("image", name, typ))
    cols += [
        F.col("row_status"),
        F.col("gtid_seq"),
        F.col("schema_version"),
        F.col("updated_ts"),
    ]
    return collapsed.select(*cols)
