"""ManifestParquetSink — Iceberg's commit model in miniature, jar-free.

The reference preserves every row version in HBase and exports
point-in-time snapshots with a separate Spark job
(/root/reference/README.md:18-23). In a lakehouse both collapse into
*table snapshots*: each commit writes immutable Parquet data files plus a
JSON manifest listing the table's files, then atomically swaps a
``_current`` pointer (atomic rename via fsio.MetaFS — driver-local or
Hadoop-FS). That gives, without any catalog jar:

* snapshot isolation + time travel (``snapshot_as_of``) — replaces the
  entire hbase-snapshotter component (README.md:22-23, CHANGES.txt:76);
* idempotent epoch fencing — the manifest records the last committed epoch
  and max applied gtid_seq; replayed epochs no-op, mirroring the safe
  checkpoint persisted only on pGTID advance (CHANGES.txt:3-7,37);
* atomic MERGE + lineage + schema evolution: all three land in ONE manifest
  write, mirroring the reference's rule that a checkpoint must not pass
  without its metrics (CHANGES.txt:113-116).

Physical layout: data files are hash-bucketed by the md5-salted key
(CHANGES.txt:102-104). Two MERGE strategies (Iceberg's two write modes):

* ``merge_strategy='cow'`` (copy-on-write, the default): a MERGE rewrites
  the buckets its keys touch; untouched buckets are carried over by
  reference. Reads are a plain scan. Best for read-heavy tables and
  infrequent commits — but with md5-uniform keys an epoch holding more
  than ~n_buckets keys touches EVERY bucket, so frequent triggers pay
  ~one full-table rewrite per epoch (the round-5 bench's top streaming
  term).
* ``merge_strategy='mor'`` (merge-on-read): a MERGE appends the collapsed
  batch as per-bucket DELTA files — write cost proportional to the BATCH,
  independent of table size — and reads resolve base + deltas with the
  same per-key gtid guard and cell-wise LWW the CoW path applies at write
  (see ``_mor_resolve``). ``rewrite_data_files`` folds deltas back into
  the base at maintenance time, exactly Iceberg's compact-after-MoR flow.
  This is the scale shape for a 100-TB target with frequent triggers.

Both strategies share the fence, lineage, changelog, time travel, and
schema evolution; ``read()`` resolves deltas whenever the manifest lists
any, so the strategy only governs how ``merge`` writes.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mysql_time_machine_spark.fsio import MetaFS
from mysql_time_machine_spark.functions.core import salted_shuffle_key
from mysql_time_machine_spark.schema import LINEAGE_COLUMNS, target_struct
from mysql_time_machine_spark.sinks.base import Sink

_CURRENT = "_current"


class FencedEpochSkipped(Exception):
    """Raised internally / observable in tests when an epoch is replayed."""


class ManifestParquetSink(Sink):
    #: max data files per (epoch, day) the changelog append produces —
    #: bounds the small-files growth of the grow-forever surface while
    #: keeping the write parallel across days; raise for epochs whose
    #: per-day changelog volume exceeds ~this many good-sized files
    CHANGELOG_FILES_PER_DAY = 4

    #: collapsed-batch row ceiling for hinting the matched-old-image side
    #: of the CoW merge join as a broadcast (rows carry the old image map,
    #: so ~500 B/row -> ~100 MB at the ceiling); bigger epochs keep the
    #: shuffle join
    BROADCAST_MERGE_MAX_ROWS = 200_000

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        business_columns: list[tuple[str, str]] | None = None,
        n_buckets: int = 16,
        merge_strategy: str = "cow",
        fs: MetaFS | None = None,
    ):
        from mysql_time_machine_spark.schema import BASE_COLUMNS

        if merge_strategy not in ("cow", "mor"):
            raise ValueError(
                f"unknown merge_strategy {merge_strategy!r}; expected 'cow' or 'mor'"
            )
        self.merge_strategy = merge_strategy
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        # all manifest/pointer IO goes through MetaFS: local fast path for
        # plain/file:// roots, Hadoop FileSystem API for DFS schemes — the
        # driver can commit manifests anywhere the executors write parquet
        # (fsio.py documents the object-store rename caveat; IcebergSink
        # stays the recommended production path there)
        self.fs = fs or MetaFS(root, spark)
        self.fs.makedirs(os.path.join(root, "manifests"))
        self.fs.makedirs(os.path.join(root, "data"))
        if not self.fs.exists(os.path.join(root, _CURRENT)):
            self._commit_manifest(
                {
                    "snapshot_id": 0,
                    "parent": None,
                    "epoch_id": -1,
                    "max_gtid_seq": -1,
                    "business_columns": business_columns or list(BASE_COLUMNS),
                    "buckets": {},
                    "lineage": {},
                    "registry": [],
                }
            )

    # -- manifest plumbing --------------------------------------------------
    def _manifest_path(self, snapshot_id: int) -> str:
        return os.path.join(self.root, "manifests", f"m{snapshot_id:06d}.json")

    def current_manifest(self) -> dict[str, Any]:
        name = self.fs.read_text(os.path.join(self.root, _CURRENT)).strip()
        return json.loads(self.fs.read_text(os.path.join(self.root, "manifests", name)))

    def manifest_at(self, snapshot_id: int) -> dict[str, Any]:
        return json.loads(self.fs.read_text(self._manifest_path(snapshot_id)))

    def _commit_manifest(self, manifest: dict[str, Any]) -> None:
        """The atomic commit: write manifest file, then rename the pointer
        — a reader sees either the old or the new snapshot, never a mix.
        This single rename is what makes MERGE+lineage+fence atomic."""
        import time as _time

        manifest.setdefault("committed_at", _time.time())
        path = self._manifest_path(manifest["snapshot_id"])
        self.fs.write_text_atomic(path, json.dumps(manifest))
        self.fs.write_text_atomic(
            os.path.join(self.root, _CURRENT), os.path.basename(path)
        )

    # -- manifest format migration -------------------------------------------
    @staticmethod
    def _changelog_by_day(raw) -> dict[str, list[str]]:
        """``changelog_files`` as the day -> files map. Rounds before the
        day-partitioned layout stored a flat file LIST; migrate it by
        recovering each file's day from its ``day_utc=...`` path segment
        (files written by the old flat layout without one park under
        'unknown' — still readable, just not day-prunable)."""
        if isinstance(raw, dict):
            return {k: list(v) for k, v in raw.items()}
        out: dict[str, list[str]] = {}
        for f in raw or []:
            m = re.search(r"day_utc=([^/]+)/", f)
            out.setdefault(m.group(1) if m else "unknown", []).append(f)
        return out

    # -- reads ---------------------------------------------------------------
    def _schema(self, manifest: dict[str, Any]) -> T.StructType:
        base = target_struct([tuple(c) for c in manifest["business_columns"]])
        return T.StructType(list(base.fields) + [T.StructField("_bucket", T.IntegerType(), True)])

    @staticmethod
    def _delta_schema() -> T.StructType:
        """On-disk shape of a MoR delta row: the collapsed form the
        kernels emit, plus the commit ordinal ``_ord`` (the snapshot id
        that wrote it — the read-side resolution's arrival order)."""
        from mysql_time_machine_spark.operators.reassemble import COLLAPSED_SCHEMA

        return T.StructType(
            list(COLLAPSED_SCHEMA.fields) + [T.StructField("_ord", T.LongType(), False)]
        )

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        m = self.current_manifest() if snapshot_id is None else self.manifest_at(snapshot_id)
        files = [f for fl in m["buckets"].values() for f in fl]
        schema = self._schema(m)
        delta_files = [
            f for fl in m.get("delta_buckets", {}).values() for f in fl
        ]
        if not delta_files:
            # fast path: CoW table or fully-compacted MoR table
            return self._scan_base(files, schema)
        deltas = self.spark.read.schema(self._delta_schema()).parquet(*delta_files)
        return self._mor_resolve(
            self._scan_base(files, schema) if files else None,
            deltas,
            [tuple(c) for c in m["business_columns"]],
        )

    def _scan_base(self, files: list[str], schema: T.StructType) -> DataFrame:
        if not files:
            return self.spark.createDataFrame([], schema).drop("_bucket")
        # explicit schema: files written before a DDL lack the new column
        # and read as NULL — Iceberg-style schema evolution on read
        return self.spark.read.schema(schema).parquet(*files).drop("_bucket")

    def _mor_resolve(
        self,
        base: DataFrame | None,
        deltas: DataFrame,
        business_columns: list[tuple[str, str]],
    ) -> DataFrame:
        """Merge-on-read resolution — the write-side MERGE rules
        (merge_logic.py) replayed over base + delta rows as one ordered
        fold per key.

        Equivalence argument: the CoW per-key gtid guard applies a change
        iff ``b.gtid_seq >= t.gtid_seq`` where t is the row state AFTER
        all earlier epochs, and a dropped (stale) change never advances
        the stored gtid — so a version applies iff its gtid_seq >= the
        MAX gtid_seq over all earlier-committed versions of its key
        (``pmax``, advanced by every version, applied or not). An applied
        version resets the image (a delete empties it, a full image
        replaces it) or cell-merges into it (``map_concat`` under the
        session's LAST_WIN policy: cell-wise last-writer-wins), and its
        metadata becomes the row's. One known (and documented) corner
        beats CoW rather than matching it: a DELETEd key remembers its
        tombstone gtid here, so a stale late-released insert stays
        dropped, while CoW's row-level guard loses the tombstone and
        would resurrect the key.

        Cost shape: ONE hash shuffle on the key feeds ONE aggregate —
        each key's versions are collected, sorted by commit ordinal and
        folded with ``aggregate`` in codegen'd expressions; no window, no
        checkpoint, no per-cell rows, no joins, no Python. Per-key state
        is the key's uncompacted versions; compaction (rewrite_data_files)
        folds deltas so steady reads take the base-only fast path."""
        from mysql_time_machine_spark.functions.core import materialize_cell

        cols = ["_ord", "row_status", "full_image", "image", "gtid_seq",
                "schema_version", "updated_ts"]
        versions = deltas.select("repo", "path", *cols)
        if base is not None:  # None: no base files (never compacted)
            kv = []
            for name, _typ in business_columns:
                kv += [F.lit(name), F.col(name).cast("string")]
            versions = base.select(
                "repo",
                "path",
                F.lit(0).cast("long").alias("_ord"),  # base precedes every delta
                "row_status",
                F.lit(True).alias("full_image"),
                F.map_filter(F.create_map(*kv), lambda k, v: v.isNotNull()).alias("image"),
                "gtid_seq",
                "schema_version",
                "updated_ts",
            ).unionByName(versions)
        meta = [n for n, _ in LINEAGE_COLUMNS]
        no_cells = F.create_map().cast("map<string,string>")

        def step(acc, v):
            applies = acc["pmax"].isNull() | (v["gtid_seq"] >= acc["pmax"])
            img = (
                F.when(~applies, acc["img"])
                .when(v["row_status"] == "D", no_cells)
                .when(v["full_image"], F.coalesce(v["image"], no_cells))
                .otherwise(F.map_concat(acc["img"], F.coalesce(v["image"], no_cells)))
            )
            last = F.when(applies, F.struct(*[v[c].alias(c) for c in meta]))
            return F.struct(
                F.greatest(acc["pmax"], v["gtid_seq"]).alias("pmax"),
                img.alias("img"),
                last.otherwise(acc["last"]).alias("last"),
            )

        zero = F.struct(
            F.lit(None).cast("long").alias("pmax"),
            no_cells.alias("img"),
            F.lit(None)
            .cast("struct<" + ",".join(f"{n}:{t}" for n, t in LINEAGE_COLUMNS) + ">")
            .alias("last"),
        )
        # the fold sits in the aggregate's result so the tombstone filter
        # stays above it (a Project would let the filter push below and
        # evaluate the fold twice). The struct holds a map, which Spark
        # cannot order: sort by _ord with an explicit comparator.
        ordered = F.array_sort(
            F.collect_list(F.struct(*cols)),
            lambda a, b: F.signum(a["_ord"] - b["_ord"]).cast("int"),
        )
        folded = (
            versions.groupBy("repo", "path")
            .agg(F.aggregate(ordered, zero, step).alias("_s"))
            .where(F.col("_s.last.row_status") != "D")
        )
        out_cols = [F.col("repo"), F.col("path")]
        for name, typ in business_columns:
            out_cols.append(materialize_cell(F.col("_s.img"), name, typ))
        out_cols += [F.col(f"_s.last.{c}").alias(c) for c in meta]
        return folded.select(*out_cols)

    def snapshot_as_of(self, snapshot_id: int) -> DataFrame:
        """Point-in-time read — the hbase-snapshotter (README.md:22-23),
        reduced to a manifest lookup + Parquet scan."""
        return self.read(snapshot_id=snapshot_id)

    def snapshot_as_of_gtid(self, gtid_seq: int) -> DataFrame:
        """Read the table as of a binlog position: the latest committed
        snapshot whose max applied gtid_seq <= the bound — the
        `TIMESTAMP AS OF` analogue keyed on the stream's own clock."""
        chain = self.snapshots()
        best = None
        for m in chain:
            if m["max_gtid_seq"] <= gtid_seq:
                best = m["snapshot_id"]
        if best is None:
            # a bound before any data legitimately reads the INITIAL empty
            # snapshot — but only while it is retained; after expiration,
            # "before retained history" must fail loudly, not return an
            # arbitrary later state
            if chain[0]["epoch_id"] == -1:
                best = chain[0]["snapshot_id"]
            else:
                raise ValueError(
                    f"no retained snapshot at-or-before gtid {gtid_seq} "
                    "(history expired — see expire_snapshots)"
                )
        return self.read(snapshot_id=best)

    def snapshot_as_of_timestamp(self, epoch_sec: float) -> DataFrame:
        """Iceberg's `TIMESTAMP AS OF` on commit WALL-CLOCK time: the
        latest snapshot committed at-or-before the bound (every manifest
        records its commit time). Complements snapshot_as_of_gtid, which
        keys on the stream's own clock."""
        chain = self.snapshots()
        best = None
        for m in chain:
            if m.get("committed_at", 0) <= epoch_sec:
                best = m["snapshot_id"]
        if best is None:
            if chain[0]["epoch_id"] == -1:  # initial empty state retained
                best = chain[0]["snapshot_id"]
            else:
                raise ValueError(
                    f"no retained snapshot committed at-or-before {epoch_sec} "
                    "(history expired — see expire_snapshots)"
                )
        return self.read(snapshot_id=best)

    def snapshots(self) -> list[dict[str, Any]]:
        out = []
        cur: dict | None = self.current_manifest()
        while cur is not None:
            out.append(cur)
            cur = self.manifest_at(cur["parent"]) if cur["parent"] is not None else None
        return list(reversed(out))

    def read_changelog(self, day: str | None = None) -> DataFrame:
        """The daily-changes analogue: every change event, PARTITIONED by
        UTC day on disk (one day-partitioned table instead of N yyyymmdd
        tables, CHANGES.txt:123,111,55). ``day`` prunes at the FILE level:
        the manifest maps day -> files, so a daily import reads only that
        day's files — the partition-pruning contract Iceberg's days(ts)
        hidden partitioning gives the jar-backed sink."""
        m = self.current_manifest()
        by_day = self._changelog_by_day(m.get("changelog_files", {}))
        days = [day] if day is not None else sorted(by_day)
        schema = (
            "repo string, path string, op string, gtid_seq long, log_file string, "
            "log_pos long, ts timestamp, schema_version int"
        )
        parts = []
        for d in days:
            files = by_day.get(d, [])
            if files:
                # day_utc is a partition value, not stored in the files
                parts.append(
                    self.spark.read.schema(schema).parquet(*files).withColumn("day_utc", F.lit(d))
                )
        if not parts:
            return self.spark.createDataFrame([], schema + ", day_utc string")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def changelog_files_for(self, day: str | None = None) -> list[str]:
        """The file list a ``read_changelog(day)`` scan touches — exposed so
        tests (and operators) can assert day-level file pruning."""
        by_day = self._changelog_by_day(self.current_manifest().get("changelog_files", {}))
        if day is not None:
            return list(by_day.get(day, []))
        return [f for fl in by_day.values() for f in fl]

    def read_lineage(self) -> DataFrame:
        """Per-epoch, per-partition lineage counters (CHANGES.txt:113-116,
        124,138) as a queryable DataFrame."""
        rows = []
        for m in self.snapshots():
            if m["lineage"]:
                rows.append(
                    {
                        "snapshot_id": m["snapshot_id"],
                        "epoch_id": m["epoch_id"],
                        "max_gtid_seq": m["max_gtid_seq"],
                        **{k: v for k, v in m["lineage"].items() if not isinstance(v, (dict, list))},
                        "per_bucket": json.dumps(m["lineage"].get("per_bucket", {})),
                    }
                )
        if not rows:
            return self.spark.createDataFrame([], "snapshot_id long, epoch_id long, max_gtid_seq long")
        return self.spark.createDataFrame(rows)

    # -- maintenance ---------------------------------------------------------
    def expire_snapshots(self, keep_last: int) -> dict[str, int]:
        """Iceberg ``expire_snapshots`` analogue: keep the newest
        ``keep_last`` snapshots (the current one always survives), delete
        every DATA file referenced only by expired snapshots, and drop the
        expired manifests. Metadata-only for retained snapshots — their
        reads (including time travel) are byte-identical before and after.

        The subtlety this must honor: bucket-granular copy-on-write means
        untouched buckets carry files BY REFERENCE across snapshots, so a
        file's owner is not the snapshot that wrote it — deletion is
        strictly "referenced by NO retained snapshot". The oldest retained
        manifest is rewritten with ``parent = None`` (atomic tmp+replace)
        so the history chain stays walkable. Changelog files are governed
        by ``expire_changelog`` (day-keyed retention), not snapshot count.

        Time travel to an expired snapshot id raises FileNotFoundError at
        ``manifest_at``; ``snapshot_as_of_gtid`` / ``_timestamp`` resolve
        over the retained chain only and raise ValueError when the bound
        predates retained history (reading "before history" must fail
        loudly, not return an arbitrary state)."""
        chain = self.snapshots()  # oldest .. newest
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        retained, expired = chain[-keep_last:], chain[:-keep_last]
        if not expired:
            return {"expired_snapshots": 0, "deleted_files": 0}

        def data_files(m):
            # delta files are data files too: a retained MoR snapshot's
            # reads resolve them, so they carry by reference like buckets
            return {f for fl in m["buckets"].values() for f in fl} | {
                f for fl in m.get("delta_buckets", {}).values() for f in fl
            }

        keep_files = set().union(*(data_files(m) for m in retained))
        drop_files = set().union(*(data_files(m) for m in expired)) - keep_files
        # METADATA FIRST, file deletion LAST (Iceberg's expire order): sever
        # the chain at the oldest retained snapshot and drop the expired
        # manifests BEFORE removing any data file. A crash mid-pass then
        # leaves only unreferenced orphan files (remove_orphan_files
        # reclaims them) — never a still-listed snapshot whose files are
        # gone, which would turn time travel into an unreadable
        # FileNotFoundError instead of the designed loud ValueError.
        oldest = dict(retained[0])
        oldest["parent"] = None
        path = self._manifest_path(oldest["snapshot_id"])
        self.fs.write_text_atomic(path, json.dumps(oldest))
        for m in expired:
            self.fs.remove_if_exists(self._manifest_path(m["snapshot_id"]))
        for f in sorted(drop_files):
            self.fs.remove_if_exists(f)
        return {"expired_snapshots": len(expired), "deleted_files": len(drop_files)}

    def expire_changelog(self, older_than_day: str) -> dict[str, int]:
        """Day-keyed changelog retention (the daily-changes tables are the
        grow-forever surface): delete the files of every UTC day strictly
        before ``older_than_day`` ('yyyymmdd') and commit a maintenance
        snapshot whose day->files map no longer references them. The
        maintenance commit does NOT advance ``epoch_id`` — the fence is a
        data-progress marker, and a retention pass must not mask a
        replayed epoch."""
        m = self.current_manifest()
        by_day = self._changelog_by_day(m.get("changelog_files", {}))
        dropped = {d: fl for d, fl in by_day.items() if d < older_than_day}
        if not dropped:
            return {"expired_days": 0, "deleted_files": 0}
        # commit the dereferencing manifest FIRST, delete files LAST: a
        # crash between the two leaves unreferenced orphans (reclaimable
        # by remove_orphan_files), never a current manifest pointing at
        # removed files (which would break read_changelog until a re-run)
        self._commit_manifest(
            {
                **{k: m[k] for k in ("epoch_id", "max_gtid_seq", "business_columns", "buckets", "lineage", "registry")},
                **({"delta_buckets": m["delta_buckets"]} if m.get("delta_buckets") else {}),
                "snapshot_id": m["snapshot_id"] + 1,
                "parent": m["snapshot_id"],
                "changelog_files": {d: fl for d, fl in by_day.items() if d >= older_than_day},
                "maintenance": f"expire_changelog(<{older_than_day})",
            }
        )
        n_files = 0
        for fl in dropped.values():
            for f in fl:
                self.fs.remove_if_exists(f)
                n_files += 1
        return {"expired_days": len(dropped), "deleted_files": n_files}

    def rewrite_data_files(self, min_files_per_bucket: int = 2) -> dict[str, int]:
        """Iceberg ``rewrite_data_files`` analogue — compaction for the
        grow-forever CoW surface: every MERGE leaves one file set per
        touched bucket, so a long-running stream accumulates many small
        files per bucket until scans pay per-file open costs. This rewrites
        each bucket holding >= ``min_files_per_bucket`` files into ONE file
        and commits a maintenance snapshot referencing the compacted set.

        Iceberg-shaped guarantees:

        * reads are byte-equal before and after (same rows, same columns —
          rows read through the current schema, so pre-DDL NULLs bake in
          exactly as a read would surface them);
        * the commit does NOT advance ``epoch_id`` — the fence is a
          data-progress marker and compaction must not mask a replayed
          epoch;
        * the OLD files are NOT deleted — prior snapshots still reference
          them (time travel stays intact); ``expire_snapshots`` reclaims
          them once no retained snapshot references them, exactly like
          Iceberg's expire-after-rewrite flow.

        On a merge-on-read table this is ALSO the delta fold (Iceberg's
        compact-after-MoR flow): every bucket holding delta files is
        resolved (base + deltas through ``_mor_resolve``) and rewritten as
        plain base files, so steady-state reads take the base-only fast
        path again. Delta buckets are always folded regardless of
        ``min_files_per_bucket`` — a delta file is read-side work by
        definition, not just a small file."""
        m = self.current_manifest()
        delta_b = {k: list(v) for k, v in m.get("delta_buckets", {}).items()}
        todo = {
            b: fl
            for b, fl in m["buckets"].items()
            if len(fl) >= min_files_per_bucket and b not in delta_b
        }
        if not todo and not delta_b:
            return {"compacted_buckets": 0, "files_before": 0, "files_after": 0}
        snap = m["snapshot_id"] + 1
        out_dir = os.path.join(self.root, "data", f"s{snap:06d}")
        read_schema = self._schema(m)
        buckets = dict(m["buckets"])
        files_before = sum(len(fl) for fl in todo.values()) + sum(
            len(m["buckets"].get(b, [])) + len(fl) for b, fl in delta_b.items()
        )
        if delta_b:
            # one distributed resolve over every delta-holding bucket —
            # NOT a per-bucket loop of plans; repartition("_bucket") puts
            # each bucket in one task so each bucket compacts to ONE file
            base_files = [f for b in delta_b for f in m["buckets"].get(b, [])]
            base = self._scan_base(base_files, read_schema) if base_files else None
            dfiles = [f for fl in delta_b.values() for f in fl]
            deltas = self.spark.read.schema(self._delta_schema()).parquet(*dfiles)
            resolved = self._mor_resolve(
                base, deltas, [tuple(c) for c in m["business_columns"]]
            ).withColumn("_bucket", salted_shuffle_key(self.n_buckets))
            resolved.repartition(max(len(delta_b), 1), "_bucket").write.mode(
                "overwrite"
            ).partitionBy("_bucket").parquet(out_dir)
            for b in delta_b:
                bdir = os.path.join(out_dir, f"_bucket={b}")
                files = (
                    [
                        os.path.join(bdir, fn)
                        for fn in self.fs.listdir(bdir)
                        if fn.endswith(".parquet")
                    ]
                    if self.fs.isdir(bdir)
                    else []
                )
                if files:
                    buckets[b] = files
                else:
                    # deltas deleted every key the bucket held
                    buckets.pop(b, None)
        for b, fl in todo.items():
            bdir = os.path.join(out_dir, f"_bucket={b}")
            # drop("_bucket"): it is a hive partition value in the layout,
            # never stored inside the files (matches merge's write shape)
            self.spark.read.schema(read_schema).parquet(*fl).drop("_bucket").coalesce(
                1
            ).write.mode("overwrite").parquet(bdir)
            buckets[b] = [
                os.path.join(bdir, fn)
                for fn in self.fs.listdir(bdir)
                if fn.endswith(".parquet")
            ]
        self._commit_manifest(
            {
                **{k: m[k] for k in ("epoch_id", "max_gtid_seq", "business_columns", "lineage", "registry")},
                "snapshot_id": snap,
                "parent": m["snapshot_id"],
                "buckets": buckets,
                "changelog_files": self._changelog_by_day(m.get("changelog_files", {})),
                "maintenance": f"rewrite_data_files(>={min_files_per_bucket})",
            }
        )
        return {
            "compacted_buckets": len(todo) + len(delta_b),
            "files_before": files_before,
            "files_after": sum(
                len(buckets.get(b, [])) for b in set(todo) | set(delta_b)
            ),
            "folded_delta_buckets": len(delta_b),
        }

    def remove_orphan_files(self, older_than_sec: float = 259_200.0) -> dict[str, int]:
        """Iceberg ``remove_orphan_files`` analogue: delete every data /
        changelog file under the table root referenced by NO retained
        manifest. Orphans are the designed residue of a crash between a
        maintenance pass's metadata commit and its file deletions (both
        expire ops commit metadata first) and of task retries that wrote
        files never committed. Metadata is untouched — this only reclaims
        storage.

        ``older_than_sec`` is Iceberg's ``older_than`` guard (same 3-day
        default): files whose mtime is within the window are SKIPPED, so a
        concurrent merge / rewrite_data_files that has written files but
        not yet committed its manifest cannot have them deleted out from
        under the commit. Pass 0 only when no write can be in flight
        (tests, an offline maintenance window).

        Reference scope mirrors each surface's read paths: DATA files are
        live if any retained snapshot lists them (time travel reads the
        whole chain); CHANGELOG files only if the CURRENT manifest's
        day map lists them (read_changelog reads only that — there is no
        changelog time travel, and expire_changelog's dereference would
        otherwise be undone by stale parent-manifest references)."""
        import time as _time

        referenced: set[str] = set()
        for m in self.snapshots():
            referenced.update(f for fl in m["buckets"].values() for f in fl)
            referenced.update(
                f for fl in m.get("delta_buckets", {}).values() for f in fl
            )
        cur = self.current_manifest()
        for fl in self._changelog_by_day(cur.get("changelog_files", {})).values():
            referenced.update(fl)
        cutoff = _time.time() - older_than_sec
        deleted = 0
        for sub in ("data", "changelog"):
            base = os.path.join(self.root, sub)
            # mtimes ride the directory listing (walk_bottomup_stat), so
            # the age guard costs zero per-file getFileStatus RPCs on the
            # Hadoop backend — large orphan sweeps are one listing per dir
            for dirpath, files in self.fs.walk_bottomup_stat(base):
                for fn, mtime in files:
                    p = os.path.join(dirpath, fn)
                    if (
                        fn.endswith(".parquet")
                        and p not in referenced
                        and mtime <= cutoff
                    ):
                        self.fs.remove(p)
                        deleted += 1
                if not self.fs.listdir(dirpath):
                    self.fs.rmdir(dirpath)
        return {"deleted_files": deleted}

    # -- schema evolution ----------------------------------------------------
    def evolve_schema(self, business_columns: list[tuple[str, str]], registry: list[dict] | None = None) -> None:
        """ALTER TABLE analogue: next commit's manifest carries the evolved
        column set; existing files are untouched (read as NULL)."""
        self._pending_columns = [tuple(c) for c in business_columns]
        if registry is not None:
            self._pending_registry = registry

    # -- the MERGE -----------------------------------------------------------
    def merge(
        self,
        batch: DataFrame,
        epoch_id: int,
        lineage: dict[str, Any] | None = None,
        changelog: DataFrame | None = None,
    ) -> bool:
        """MERGE INTO target USING batch ON (repo, path):
        matched & 'D' -> DELETE; matched & 'U' -> cell-wise update (the
        batch image may be a partial changed-cells map, CHANGES.txt:173);
        matched & 'I' -> replace; not matched & not 'D' -> INSERT.
        Bucket-granular copy-on-write; idempotent per epoch (fence).

        Semantics contract with the collapse kernels (merge_logic.py):
        ``full_image`` = true means the image is the COMPLETE row state
        (the key's epoch contained a reset I/D), so it replaces the stored
        image verbatim — absent cells become NULL. full_image = false
        images are guaranteed reset-free partial cell sets, so map_concat
        cell-merge is exact; a cell explicitly set to NULL is present in
        the map with a NULL value and wins over the old cell. row_status
        stays the reference's last-op marker (CHANGES.txt:174-175).

        ``batch`` is COLLAPSED form: (repo, path, row_status, image,
        gtid_seq, schema_version, updated_ts) — one row per key.
        ``changelog`` (optional) is appended in the SAME atomic commit —
        the daily-changes branch (CHANGES.txt:123,111,55).
        """
        m = self.current_manifest()
        if epoch_id <= m["epoch_id"]:
            return False  # fenced: already committed (duplicate delivery)

        business_columns = getattr(self, "_pending_columns", None) or [tuple(c) for c in m["business_columns"]]
        registry = getattr(self, "_pending_registry", None) or m.get("registry", [])

        snap = m["snapshot_id"] + 1
        # overlap the changelog append with the (heavier) merge write:
        # the two jobs are independent until the single manifest commit,
        # and Spark's FIFO scheduler back-fills the merge's straggler
        # tail with changelog tasks (guide: overlap independent jobs).
        # The thread only WRITES FILES — the atomic commit still happens
        # once, in _finish_merge, after joining it; a failure there
        # surfaces before the commit, and a crash leaves unreferenced
        # files for remove_orphan_files, exactly like any other crash
        # between write and commit.
        cl_job = self._start_changelog_write(changelog, snap)
        batch = batch.withColumn("_bucket", salted_shuffle_key(self.n_buckets))
        batch.persist()
        try:
            # one control-plane job: the per-bucket stats aggregate already
            # enumerates every touched bucket — no separate distinct scan
            stats_rows = (
                batch.groupBy("_bucket")
                .agg(
                    F.count_if(F.col("row_status") == "I").alias("n_I"),
                    F.count_if(F.col("row_status") == "U").alias("n_U"),
                    F.count_if(F.col("row_status") == "D").alias("n_D"),
                    F.max("gtid_seq").alias("max_gtid"),
                )
                .collect()
            )
            touched = sorted(r["_bucket"] for r in stats_rows)

            if self.merge_strategy == "mor":
                # merge-on-read: append the collapsed batch as per-bucket
                # delta files — cost proportional to the BATCH, independent
                # of table size; the read path / compaction resolve them
                out_dir = os.path.join(self.root, "data", f"s{snap:06d}-delta")
                # same write.distribution-mode=hash clustering as the CoW
                # write below: the collapse output's partitions are salted
                # hash slots, not sink buckets, so without it each task
                # writes several bucket dirs and the delta set accretes
                # ~2x the files the read resolve + compaction must open.
                # The exchange is batch-sized — exactly the MoR premise.
                batch.withColumn("_ord", F.lit(snap).cast("long")).repartition(
                    self.n_buckets, F.col("_bucket")
                ).write.mode("overwrite").partitionBy("_bucket").parquet(out_dir)
                buckets = dict(m["buckets"])
                delta_buckets = {
                    k: list(v) for k, v in m.get("delta_buckets", {}).items()
                }
                for b in touched:
                    bdir = os.path.join(out_dir, f"_bucket={b}")
                    if self.fs.isdir(bdir):
                        files = [
                            os.path.join(bdir, fn)
                            for fn in self.fs.listdir(bdir)
                            if fn.endswith(".parquet")
                        ]
                        if files:
                            delta_buckets.setdefault(str(b), []).extend(files)
                return self._finish_merge(
                    m, snap, epoch_id, buckets, delta_buckets, stats_rows,
                    business_columns, registry, lineage, cl_job,
                )

            if m.get("delta_buckets"):
                raise ValueError(
                    "copy-on-write merge on a table with pending delta files: "
                    "run rewrite_data_files() to fold them first, or construct "
                    "the sink with merge_strategy='mor'"
                )
            out_dir = os.path.join(self.root, "data", f"s{snap:06d}")
            new_schema = self._schema({"business_columns": business_columns})
            old_files = [f for b in touched for f in m["buckets"].get(str(b), [])]

            upserts = batch.where(F.col("row_status") != "D")
            if old_files:
                old_schema = self._schema(m)
                old = self.spark.read.schema(old_schema).parquet(*old_files)
                # per-epoch batch keys are small vs the table — broadcast
                keys = F.broadcast(
                    batch.select("repo", "path", F.col("gtid_seq").alias("_new_gtid"))
                )
                # per-key gtid monotonicity guard (the pGTID fence at key
                # granularity, CHANGES.txt:37): a stale change — replayed or
                # delivered out of order — can never clobber a newer row
                old_k = old.join(keys, ["repo", "path"], "left")
                retained = old_k.where(
                    F.col("_new_gtid").isNull() | (F.col("gtid_seq") > F.col("_new_gtid"))
                ).drop("_new_gtid")
                # matched, non-stale keys: reconstruct the stored row's image
                # map from its non-null business cells, then cell-wise LWW
                # merge (map_concat is LAST_WIN, session-pinned)
                old_cols = [tuple(c) for c in m["business_columns"]]
                kv = []
                for name, _typ in old_cols:
                    kv += [F.lit(name), F.col(name).cast("string")]
                old_img = old_k.where(F.col("_new_gtid").isNotNull()).select(
                    "repo",
                    "path",
                    F.map_filter(F.create_map(*kv), lambda k, v: v.isNotNull()).alias("_old_image"),
                    F.col("gtid_seq").alias("_old_gtid"),
                )
                # old_img holds only OLD rows whose key appears in the batch,
                # so its cardinality is bounded by the batch's keys — the
                # same boundedness that justifies the `keys` broadcast above.
                # Without the hint the static planner (sizes unknown inside a
                # micro-batch) planned this as a SortMergeJoin: two exchanges
                # + two sorts of batch-sized sides (see
                # plans/r07/cdc_stream_merge_write_before.txt). Rows are
                # wider than `keys` (they carry the old image map), so gate
                # on the collapsed-batch row count the stats pass already
                # measured; an outsized epoch keeps the shuffle join.
                n_batch_rows = sum(
                    r["n_I"] + r["n_U"] + r["n_D"] for r in stats_rows
                )
                if n_batch_rows <= self.BROADCAST_MERGE_MAX_ROWS:
                    old_img = F.broadcast(old_img)
                merged_img = (
                    upserts.join(old_img, ["repo", "path"], "left")
                    .where(F.col("_old_gtid").isNull() | (F.col("_old_gtid") <= F.col("gtid_seq")))
                    .withColumn(
                        "image",
                        F.when(F.col("full_image"), F.col("image"))
                        .when(F.col("_old_image").isNull(), F.col("image"))
                        .otherwise(F.map_concat(F.col("_old_image"), F.col("image"))),
                    )
                    .drop("_old_image", "_old_gtid")
                )
            else:
                retained = None
                merged_img = upserts

            # materialize the image map onto the (possibly evolved) schema
            from mysql_time_machine_spark.functions.core import materialize_cell

            mat_cols = [F.col("repo"), F.col("path")]
            for name, typ in business_columns:
                mat_cols.append(materialize_cell("image", name, typ))
            mat_cols += [F.col(n) for n, _ in LINEAGE_COLUMNS] + [F.col("_bucket")]
            new_rows = merged_img.select(*mat_cols)

            if retained is not None:
                for f_ in new_schema.fields:
                    if f_.name not in retained.columns:
                        retained = retained.withColumn(f_.name, F.lit(None).cast(f_.dataType))
                merged = retained.select([f_.name for f_ in new_schema.fields]).unionByName(
                    new_rows.select([f_.name for f_ in new_schema.fields])
                )
            else:
                merged = new_rows.select([f_.name for f_ in new_schema.fields])

            # _bucket is a hive partition column in the written layout, so it
            # is NOT stored in the files; recompute it (deterministic of key)
            merged = merged.drop("_bucket").withColumn("_bucket", salted_shuffle_key(self.n_buckets))
            # cluster by the write-partition key before the dynamic write
            # (Iceberg write.distribution-mode=hash): without it, a scan
            # task holding rows of many buckets — the retained branch packs
            # all touched buckets' small files into 1-2 splits — writes one
            # file PER bucket serially (measured: the epoch-2 write stage
            # was one ~1.1 s straggler opening 32 parquet writers), and the
            # table accretes >1 file per bucket per snapshot. One key-sized
            # exchange buys one-writer-per-bucket and a flat file count.
            merged = merged.repartition(self.n_buckets, F.col("_bucket"))
            merged.write.mode("overwrite").partitionBy("_bucket").parquet(out_dir)

            # collect the files actually written, keyed by bucket
            new_buckets: dict[str, list[str]] = {}
            for b in touched:
                bdir = os.path.join(out_dir, f"_bucket={b}")
                if self.fs.isdir(bdir):
                    files = [
                        os.path.join(bdir, fn)
                        for fn in self.fs.listdir(bdir)
                        if fn.endswith(".parquet")
                    ]
                    if files:
                        new_buckets[str(b)] = files

            buckets = {k: v for k, v in m["buckets"].items() if int(k) not in touched}
            buckets.update(new_buckets)
            return self._finish_merge(
                m, snap, epoch_id, buckets, {}, stats_rows,
                business_columns, registry, lineage, cl_job,
            )
        finally:
            batch.unpersist()

    def _start_changelog_write(
        self, changelog: DataFrame | None, snap: int
    ) -> dict[str, Any] | None:
        """Kick off the day-partitioned changelog append on a driver
        thread so its tasks back-fill the merge write's straggler tail;
        returns a handle _finish_merge joins before the atomic commit.
        Partitioned by UTC day — the Iceberg days(ts) analogue; the
        manifest's day -> files map is what lets read_changelog prune at
        the file level for daily imports. Clustered by (day,
        deterministic sub-key) first: without it every upstream partition
        emits one file into every day dir (up to days x shuffle_partitions
        tiny files PER EPOCH); the sub-key caps files/day/epoch at
        CHANGELOG_FILES_PER_DAY while keeping up to days x that many
        write tasks. Deterministic key (xxhash64 of the event's position,
        never rand()) so a retried task reproduces its row assignment."""
        if changelog is None:
            return None
        import threading

        cl_dir = os.path.join(self.root, "changelog", f"s{snap:06d}")
        job: dict[str, Any] = {"dir": cl_dir, "error": None}

        def _write() -> None:
            try:
                (
                    changelog.repartition(
                        F.col("day_utc"),
                        F.pmod(
                            F.xxhash64("gtid_seq", "log_pos"),
                            F.lit(self.CHANGELOG_FILES_PER_DAY),
                        ),
                    )
                    .write.mode("overwrite")
                    .partitionBy("day_utc")
                    .parquet(cl_dir)
                )
            except BaseException as e:  # surfaces at the join, pre-commit
                job["error"] = e

        t = threading.Thread(target=_write, name=f"mtm-changelog-s{snap}", daemon=True)
        job["thread"] = t
        t.start()
        return job

    def _finish_merge(
        self,
        m: dict[str, Any],
        snap: int,
        epoch_id: int,
        buckets: dict[str, list[str]],
        delta_buckets: dict[str, list[str]],
        stats_rows,
        business_columns: list[tuple[str, str]],
        registry: list[dict],
        lineage: dict[str, Any] | None,
        cl_job: dict[str, Any] | None,
    ) -> bool:
        """Shared commit tail of both merge strategies: join the
        concurrent changelog append (started before the merge write —
        guide §2.6 overlap), lineage counters, max-gtid advance, and the
        single atomic manifest swap that makes MERGE+changelog+fence one
        commit."""
        changelog_files: dict[str, list[str]] = self._changelog_by_day(
            m.get("changelog_files", {})
        )
        if cl_job is not None:
            cl_job["thread"].join()
            if cl_job["error"] is not None:
                raise cl_job["error"]  # before the commit — nothing is listed
            cl_dir = cl_job["dir"]
            for entry in self.fs.listdir(cl_dir):
                if not entry.startswith("day_utc="):
                    continue
                d = entry.split("=", 1)[1]
                ddir = os.path.join(cl_dir, entry)
                changelog_files.setdefault(d, []).extend(
                    os.path.join(ddir, fn)
                    for fn in self.fs.listdir(ddir)
                    if fn.endswith(".parquet")
                )

        max_gtid = max(
            [r["max_gtid"] for r in stats_rows if r["max_gtid"] is not None],
            default=m["max_gtid_seq"],
        )
        lin = dict(lineage or {})
        lin.update(
            {
                "n_I": sum(r["n_I"] for r in stats_rows),
                "n_U": sum(r["n_U"] for r in stats_rows),
                "n_D": sum(r["n_D"] for r in stats_rows),
                "per_bucket": {
                    str(r["_bucket"]): {"n_I": r["n_I"], "n_U": r["n_U"], "n_D": r["n_D"]}
                    for r in stats_rows
                },
            }
        )

        manifest = {
            "snapshot_id": snap,
            "parent": m["snapshot_id"],
            "epoch_id": epoch_id,
            "max_gtid_seq": int(max(max_gtid, m["max_gtid_seq"])),
            "business_columns": [list(c) for c in business_columns],
            "buckets": buckets,
            "lineage": lin,
            "registry": registry,
            "changelog_files": changelog_files,
        }
        if delta_buckets:
            manifest["delta_buckets"] = delta_buckets
        self._commit_manifest(manifest)
        self._pending_columns = None
        self._pending_registry = None
        return True
