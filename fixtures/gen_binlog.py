"""Simulated MySQL binlog event stream (FIXTURES.md §2).

Plays the role of the binlog-flusher + the replicator's producer side
(/root/reference/README.md:14-17): a deterministic, totally-ordered change
log whose snapshot phase and churn phase are ONE uniform stream — the
reference's core design trick (flush the snapshot *through the binlog*).

Two generators:

* ``sql_mode_events`` — the churn is a pure function of the driver's
  ``documents`` + ``events`` tables, so the final replayed table state is
  expressible in ANSI SQL (the DuckDB oracle in ``__spark_entry__``). Full
  post-images, no DDL: this is the end-to-end LWW-replay parity check.

* ``generate_rich`` — seeded numpy generator exercising everything else:
  multi-event transactions with BEGIN/COMMIT boundaries, *partial*
  changed-cells updates (CHANGES.txt:173), deletes + resurrections, DDL
  ADD COLUMN mid-stream with classifier trap strings (CHANGES.txt:117),
  ROTATE events with ts=0 (CHANGES.txt:58-61), Zipf hot-key skew, and
  txn-atomic epoch file boundaries (SURVEY.md §7.2.2 invariant: a
  transaction's events never straddle an epoch file — true of MySQL binlog
  rotation as well).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fixtures.gen_repos import N_ORGS
from mysql_time_machine_spark.schema import EVENT_SCHEMA

SNAPSHOT_TS = "2024-01-01 00:00:00"

# ---------------------------------------------------------------------------
# SQL-expressible mode
# ---------------------------------------------------------------------------


def sql_mode_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot INSERTs (gtid 0) + churn derived from the `events` table.

    op rule: error -> D, signup -> I (new key), everything else -> U
    (full post-image). gtid_seq = event_id + 1. Deterministic, join-only.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_docs = docs.count()

    snapshot = docs.select(
        F.lit("binlog.000001").alias("log_file"),
        F.col("doc_id").cast("long").alias("log_pos"),
        F.concat(F.lit("uuid0:"), F.col("doc_id").cast("string")).alias("gtid"),
        F.lit(0).cast("long").alias("gtid_seq"),
        F.col("doc_id").cast("long").alias("txn_id"),
        F.lit(0).alias("seq_in_txn"),
        F.lit(1).alias("server_id"),
        F.lit(SNAPSHOT_TS).cast("timestamp").alias("ts"),
        F.lit("I").alias("op"),
        F.lit(1).alias("schema_version"),
        F.concat(F.lit("org"), (F.col("doc_id") % N_ORGS).cast("string")).alias("repo"),
        F.concat(F.lit("src/doc_"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        F.lit(None).cast("map<string,string>").alias("before"),
        F.create_map(
            F.lit("commit"), F.md5(F.concat(F.lit("c0:"), F.col("doc_id").cast("string"))),
            F.lit("lang"), F.col("lang"),
            F.lit("content"), F.col("text"),
        ).alias("after"),
        F.lit(None).cast("string").alias("ddl"),
    )

    churn_base = events.select(
        F.col("event_id"),
        F.col("ts"),
        (F.col("user_id") % n_docs).alias("tgt"),
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
        .alias("op"),
        F.col("user_id"),
    ).join(
        docs.select(F.col("doc_id").alias("tgt"), F.col("lang").alias("tgt_lang")),
        "tgt",
    )

    eid = F.col("event_id").cast("string")
    churn = churn_base.select(
        F.lit("binlog.000002").alias("log_file"),
        (F.col("event_id") + 1).cast("long").alias("log_pos"),
        F.concat(F.lit("uuid0:"), (F.col("event_id") + 1).cast("string")).alias("gtid"),
        (F.col("event_id") + 1).cast("long").alias("gtid_seq"),
        (F.col("event_id") + 1).cast("long").alias("txn_id"),
        F.lit(0).alias("seq_in_txn"),
        F.lit(1).alias("server_id"),
        F.col("ts"),
        F.col("op"),
        F.lit(1).alias("schema_version"),
        F.when(F.col("op") == "I", F.concat(F.lit("org"), (F.col("user_id") % N_ORGS).cast("string")))
        .otherwise(F.concat(F.lit("org"), (F.col("tgt") % N_ORGS).cast("string")))
        .alias("repo"),
        F.when(F.col("op") == "I", F.concat(F.lit("gen/e_"), eid, F.lit(".txt")))
        .otherwise(F.concat(F.lit("src/doc_"), F.col("tgt").cast("string"), F.lit(".txt")))
        .alias("path"),
        F.lit(None).cast("map<string,string>").alias("before"),
        F.when(F.col("op") == "D", F.lit(None).cast("map<string,string>"))
        .when(
            F.col("op") == "I",
            F.create_map(
                F.lit("commit"), F.md5(F.concat(F.lit("c:"), eid)),
                F.lit("lang"), F.lit("python"),
                F.lit("content"), F.concat(F.lit("new:"), eid),
            ),
        )
        .otherwise(
            F.create_map(
                F.lit("commit"), F.md5(F.concat(F.lit("c:"), eid)),
                F.lit("lang"), F.col("tgt_lang"),
                F.lit("content"), F.concat(F.lit("upd:"), eid),
            ),
        )
        .alias("after"),
        F.lit(None).cast("string").alias("ddl"),
    )
    return snapshot.unionByName(churn)


#: DuckDB SQL computing the exact final table state after replaying
#: ``sql_mode_events`` — the independent oracle for the flagship.
SQL_MODE_FINAL_STATE_SQL = f"""
WITH churn AS (
    SELECT event_id,
           user_id % (SELECT count(*) FROM documents) AS tgt,
           user_id,
           CASE event_type WHEN 'error' THEN 'D'
                           WHEN 'signup' THEN 'I'
                           ELSE 'U' END AS op,
           event_id + 1 AS gtid_seq
    FROM events
),
last_seed_touch AS (
    SELECT tgt, op, event_id,
           row_number() OVER (PARTITION BY tgt ORDER BY gtid_seq DESC) AS rn
    FROM churn WHERE op IN ('U', 'D')
),
final_seed AS (
    SELECT 'org' || (d.doc_id % {N_ORGS}) AS repo,
           'src/doc_' || d.doc_id || '.txt' AS path,
           CASE WHEN s.op = 'U' THEN md5('c:' || s.event_id)
                ELSE md5('c0:' || d.doc_id) END AS commit,
           d.lang AS lang,
           CASE WHEN s.op = 'U' THEN 'upd:' || s.event_id
                ELSE d.text END AS content
    FROM documents d
    LEFT JOIN (SELECT * FROM last_seed_touch WHERE rn = 1) s ON s.tgt = d.doc_id
    WHERE s.op IS NULL OR s.op = 'U'
),
inserts AS (
    SELECT 'org' || (user_id % {N_ORGS}) AS repo,
           'gen/e_' || event_id || '.txt' AS path,
           md5('c:' || event_id) AS commit,
           'python' AS lang,
           'new:' || event_id AS content
    FROM churn WHERE op = 'I'
)
SELECT repo, path, commit, lang, content, sha256(content) AS content_sha256
FROM (SELECT * FROM final_seed UNION ALL SELECT * FROM inserts)
"""


# ---------------------------------------------------------------------------
# SQL-expressible TYPED mode — rich column types + PARTIAL updates under the
# oracle gate. sql_mode_events carries full post-images of plain strings;
# this variant routes the per-type canonicalizers (P2 latin1, P5 ENUM,
# P6 TIME2 — CHANGES.txt:160,182,183) through the SAME replay/materialize
# path, and its churn UPDATEs are partial changed-cells maps
# (CHANGES.txt:173) so cell-wise LWW merge + delete-resurrection semantics
# are hash-checked end to end, not just pytest-checked.
# ---------------------------------------------------------------------------

#: registry-typed business columns of the typed-mode table. `note` arrives
#: as latin1 bytes hex-encoded in the KV cell (as the binlog carries raw
#: column bytes), `dur` as signed TIME2 microseconds, `lang_enum` as a
#: 1-based ENUM index.
TYPED_COLUMNS = [
    ("commit", "string"),
    ("lang_enum", "enum(python|java|scala|go|other)"),
    ("note", "latin1"),
    ("dur", "time2"),
    ("stars", "long"),
    ("content", "string"),
]

#: deterministic signed-micros formulas (shared with the DuckDB oracle;
#: the event-side one is the proven p6_time2 formula)
_DUR_EVENT = "(event_id * 1234567) % 3020399000000 - 1000000000000"
_DUR_DOC = "(doc_id * 7919) % 3020399000000 - 1000000000000"


def sql_mode_events_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed sibling of ``sql_mode_events``: snapshot INSERTs carry all six
    typed cells; churn UPDATEs are PARTIAL (commit, dur, stars only), so a
    key deleted then updated resurrects with snapshot-only cells NULL."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_docs = docs.count()

    doc_id_s = F.col("doc_id").cast("string")
    ascii_slice = F.regexp_replace(F.substring("text", 1, 12), "[^ -~]", "")
    dur_doc = (F.col("doc_id") * 7919) % F.lit(3020399000000) - F.lit(1000000000000)
    snapshot = docs.select(
        F.lit("binlog.000001").alias("log_file"),
        F.col("doc_id").cast("long").alias("log_pos"),
        F.concat(F.lit("uuid0:"), doc_id_s).alias("gtid"),
        F.lit(0).cast("long").alias("gtid_seq"),
        F.col("doc_id").cast("long").alias("txn_id"),
        F.lit(0).alias("seq_in_txn"),
        F.lit(1).alias("server_id"),
        F.lit(SNAPSHOT_TS).cast("timestamp").alias("ts"),
        F.lit("I").alias("op"),
        F.lit(1).alias("schema_version"),
        F.concat(F.lit("org"), (F.col("doc_id") % N_ORGS).cast("string")).alias("repo"),
        F.concat(F.lit("src/doc_"), doc_id_s, F.lit(".txt")).alias("path"),
        F.lit(None).cast("map<string,string>").alias("before"),
        F.create_map(
            F.lit("commit"), F.md5(F.concat(F.lit("c0:"), doc_id_s)),
            F.lit("lang_enum"), ((F.col("doc_id") % 5) + 1).cast("string"),
            F.lit("note"), F.concat(F.lit("E9"), F.hex(F.encode(ascii_slice, "UTF-8"))),
            F.lit("dur"), dur_doc.cast("string"),
            F.lit("stars"), (F.col("doc_id") % 1000).cast("string"),
            F.lit("content"), F.col("text"),
        ).alias("after"),
        F.lit(None).cast("string").alias("ddl"),
    )

    eid = F.col("event_id").cast("string")
    dur_ev = (F.col("event_id") * 1234567) % F.lit(3020399000000) - F.lit(1000000000000)
    churn = events.select(
        F.col("event_id"),
        F.col("ts"),
        (F.col("user_id") % n_docs).alias("tgt"),
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
        .alias("op"),
        F.col("user_id"),
    ).select(
        F.lit("binlog.000002").alias("log_file"),
        (F.col("event_id") + 1).cast("long").alias("log_pos"),
        F.concat(F.lit("uuid0:"), (F.col("event_id") + 1).cast("string")).alias("gtid"),
        (F.col("event_id") + 1).cast("long").alias("gtid_seq"),
        (F.col("event_id") + 1).cast("long").alias("txn_id"),
        F.lit(0).alias("seq_in_txn"),
        F.lit(1).alias("server_id"),
        F.col("ts"),
        F.col("op"),
        F.lit(1).alias("schema_version"),
        F.when(F.col("op") == "I", F.concat(F.lit("org"), (F.col("user_id") % N_ORGS).cast("string")))
        .otherwise(F.concat(F.lit("org"), (F.col("tgt") % N_ORGS).cast("string")))
        .alias("repo"),
        F.when(F.col("op") == "I", F.concat(F.lit("gen/e_"), eid, F.lit(".txt")))
        .otherwise(F.concat(F.lit("src/doc_"), F.col("tgt").cast("string"), F.lit(".txt")))
        .alias("path"),
        F.lit(None).cast("map<string,string>").alias("before"),
        F.when(F.col("op") == "D", F.lit(None).cast("map<string,string>"))
        .when(
            F.col("op") == "I",
            F.create_map(
                F.lit("commit"), F.md5(F.concat(F.lit("c:"), eid)),
                F.lit("lang_enum"), ((F.col("user_id") % 5) + 1).cast("string"),
                F.lit("note"), F.concat(
                    F.lit("E9"), F.hex(F.encode(F.concat(F.lit("new:"), eid), "UTF-8"))
                ),
                F.lit("dur"), dur_ev.cast("string"),
                F.lit("stars"), (F.col("event_id") % 5000).cast("string"),
                F.lit("content"), F.concat(F.lit("new:"), eid),
            ),
        )
        .otherwise(
            # PARTIAL update: only these three cells change; lang_enum,
            # note, content must survive (or stay dead post-delete) by the
            # collapse kernels' cell-merge rules alone
            F.create_map(
                F.lit("commit"), F.md5(F.concat(F.lit("c:"), eid)),
                F.lit("dur"), dur_ev.cast("string"),
                F.lit("stars"), (F.col("event_id") % 5000).cast("string"),
            ),
        )
        .alias("after"),
        F.lit(None).cast("string").alias("ddl"),
    )
    return snapshot.unionByName(churn)


def _duck_time2(v: str) -> str:
    return (
        "printf('%s%02d:%02d:%02d.%06d', "
        f"CASE WHEN ({v}) < 0 THEN '-' ELSE '' END, "
        f"abs({v}) // 3600000000, (abs({v}) // 60000000) % 60, "
        f"(abs({v}) // 1000000) % 60, abs({v}) % 1000000)"
    )


_ENUM_LABELS = "(['python','java','scala','go','other'])"

#: DuckDB oracle for ``sql_mode_events_typed``: cell-wise LWW with reset
#: semantics, in plain SQL. Per seed key: the last DELETE (if any) is the
#: reset; the last UPDATE after it supplies (commit, dur, stars); snapshot
#: cells (lang_enum, note, content) survive only if the key was never
#: deleted; a key whose last touch is the DELETE is absent.
SQL_MODE_TYPED_FINAL_STATE_SQL = f"""
WITH churn AS (
    SELECT event_id,
           user_id % (SELECT count(*) FROM documents) AS tgt,
           user_id,
           CASE event_type WHEN 'error' THEN 'D'
                           WHEN 'signup' THEN 'I'
                           ELSE 'U' END AS op,
           event_id + 1 AS gtid_seq
    FROM events
),
seed_d AS (
    SELECT tgt, max(gtid_seq) AS last_d FROM churn WHERE op = 'D' GROUP BY tgt
),
seed_u AS (
    SELECT c.tgt,
           max(CASE WHEN c.gtid_seq > coalesce(d.last_d, -1)
                    THEN c.gtid_seq END) AS last_u_after_d
    FROM churn c LEFT JOIN seed_d d ON d.tgt = c.tgt
    WHERE c.op = 'U'
    GROUP BY c.tgt
),
final_seed AS (
    SELECT 'org' || (d.doc_id % {N_ORGS}) AS repo,
           'src/doc_' || d.doc_id || '.txt' AS path,
           CASE WHEN u.last_u_after_d IS NOT NULL
                THEN md5('c:' || (u.last_u_after_d - 1))
                ELSE md5('c0:' || d.doc_id) END AS commit,
           CASE WHEN dd.last_d IS NULL
                THEN {_ENUM_LABELS}[(d.doc_id % 5) + 1] END AS lang_enum,
           CASE WHEN dd.last_d IS NULL
                THEN chr(233) || regexp_replace(substr(d.text, 1, 12), '[^ -~]', '', 'g')
                END AS note,
           CASE WHEN u.last_u_after_d IS NOT NULL
                THEN {_duck_time2(f"((u.last_u_after_d - 1) * 1234567) % 3020399000000 - 1000000000000")}
                ELSE {_duck_time2(_DUR_DOC.replace("doc_id", "d.doc_id"))} END AS dur,
           CASE WHEN u.last_u_after_d IS NOT NULL
                THEN ((u.last_u_after_d - 1) % 5000)::BIGINT
                ELSE (d.doc_id % 1000)::BIGINT END AS stars,
           CASE WHEN dd.last_d IS NULL THEN d.text END AS content
    FROM documents d
    LEFT JOIN seed_d dd ON dd.tgt = d.doc_id
    LEFT JOIN seed_u u ON u.tgt = d.doc_id
    WHERE dd.last_d IS NULL OR u.last_u_after_d IS NOT NULL
),
inserts AS (
    SELECT 'org' || (user_id % {N_ORGS}) AS repo,
           'gen/e_' || event_id || '.txt' AS path,
           md5('c:' || event_id) AS commit,
           {_ENUM_LABELS}[(user_id % 5) + 1] AS lang_enum,
           chr(233) || 'new:' || event_id AS note,
           {_duck_time2(_DUR_EVENT)} AS dur,
           (event_id % 5000)::BIGINT AS stars,
           'new:' || event_id AS content
    FROM churn WHERE op = 'I'
)
SELECT repo, path, commit, lang_enum, note, dur, stars, content,
       sha256(content) AS content_sha256
FROM (SELECT * FROM final_seed UNION ALL SELECT * FROM inserts)
"""


# ---------------------------------------------------------------------------
# Rich mode (pytest)
# ---------------------------------------------------------------------------

V1_COLUMNS = [("commit", "string"), ("lang", "string"), ("content", "string")]
DDL_ADDS = [("stars", "string"), ("license", "string")]  # applied in order

#: classifier trap strings — DDL statements that *contain* BEGIN/COMMIT
#: words (the CHANGES.txt:117 bug class)
TRAP_DDLS = [
    "CREATE TABLE begin_markers (id INT)",
    "ALTER TABLE repos COMMENT = 'commit history table'",
]


@dataclass
class RichLog:
    """The generated log + everything a test needs to check it."""

    events: pd.DataFrame  # one row per event, with an `epoch` column
    registry: list[dict]  # schema-version history
    n_epochs: int
    emitted: dict = field(default_factory=dict)  # per-op generator-side counts


def _zipf_keys(rng: np.random.Generator, n_keys: int, size: int, alpha: float = 1.2) -> np.ndarray:
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    p = ranks**-alpha
    p /= p.sum()
    return rng.choice(n_keys, size=size, p=p)


def generate_rich(
    seed: int = 42,
    n_keys: int = 60,
    n_txns: int = 400,
    n_epochs: int = 8,
    partial_updates: bool = True,
) -> RichLog:
    rng = np.random.default_rng(seed)
    repos = [f"org{i % 6}/r{i % 11}" for i in range(n_keys)]
    paths = [f"src/f{i}.py" for i in range(n_keys)]

    registry = [
        {"schema_version": 1, "valid_from_gtid_seq": 0, "ddl": None,
         "columns": [list(c) for c in V1_COLUMNS]},
    ]

    rows: list[dict] = []
    log_file_no = 1
    log_pos = 4

    def emit(op, gtid_seq, txn_id, seq_in_txn, key=None, after=None, before=None, ddl=None, ts=None, sv=None):
        nonlocal log_pos
        rows.append(
            {
                "log_file": f"binlog.{log_file_no:06d}",
                "log_pos": log_pos,
                "gtid": f"uuid1:{gtid_seq}",
                "gtid_seq": gtid_seq,
                "txn_id": txn_id,
                "seq_in_txn": seq_in_txn,
                "server_id": 1,
                "ts": ts if ts is not None else pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=int(gtid_seq)),
                "op": op,
                "schema_version": sv if sv is not None else registry[-1]["schema_version"],
                "repo": repos[key] if key is not None else None,
                "path": paths[key] if key is not None else None,
                "before": before,
                "after": after,
                "ddl": ddl,
            }
        )
        log_pos += 1

    # snapshot phase: one INSERT per key at gtid 0 (initial-snapshot mode,
    # CHANGES.txt:139 — same stream, same schema)
    for i in range(n_keys):
        emit(
            "I", 0, -1, i, key=i,
            after={
                "commit": f"{'%040x' % (seed * 10_000_019 + i)}",
                "lang": ["python", "java", "scala", "go"][i % 4],
                "content": f"seed-content-{seed}-{i}-" + "x" * int(rng.integers(10, 400)),
            },
        )

    # churn: transactions of 1-4 row events, DDLs, rotates
    ddl_at = sorted(rng.choice(np.arange(10, n_txns - 10), size=len(DDL_ADDS), replace=False).tolist())
    rotate_every = max(n_txns // 3, 1)
    keyspace = _zipf_keys(rng, n_keys, n_txns * 4)
    kp = 0
    emitted = {"I": n_keys, "U": 0, "D": 0, "DDL": 0, "ROTATE": 0}
    alive = {i: True for i in range(n_keys)}

    gtid = 0
    for t in range(1, n_txns + 1):
        gtid = t
        if t % rotate_every == 0:
            log_file_no += 1
            # rotate carries ts=0 — must be excluded from the delay metric
            # (CHANGES.txt:58-61)
            emit("ROTATE", gtid, -1, 0, ts=pd.Timestamp(0))
            emitted["ROTATE"] += 1
        if ddl_at and t == ddl_at[0]:
            ddl_at.pop(0)
            idx = len(registry) - 1
            col = DDL_ADDS[idx]
            newcols = registry[-1]["columns"] + [list(col)]
            registry.append(
                {"schema_version": registry[-1]["schema_version"] + 1,
                 "valid_from_gtid_seq": gtid, "ddl": f"ALTER TABLE repos ADD COLUMN {col[0]} {col[1]}",
                 "columns": newcols}
            )
            emit("DDL", gtid, -1, 0, ddl=registry[-1]["ddl"], sv=registry[-1]["schema_version"])
            # a trap DDL right after (data-free, classifier fodder)
            emit("DDL", gtid, -1, 1, ddl=TRAP_DDLS[idx % len(TRAP_DDLS)], sv=registry[-1]["schema_version"])
            emitted["DDL"] += 2
            continue

        size = int(rng.integers(1, 5))
        emit("BEGIN", gtid, t, 0, ddl="BEGIN")
        cur_cols = [c[0] for c in registry[-1]["columns"]]
        for s in range(size):
            k = int(keyspace[kp]); kp += 1
            r = rng.random()
            if not alive[k] or r < 0.12:
                op = "I"
            elif r < 0.80:
                op = "U"
            else:
                op = "D"
            if op == "D":
                emit("D", gtid, t, s + 1, key=k, before={"content": "ignored"})
                alive[k] = False
                emitted["D"] += 1
            elif op == "I":
                after = {c: f"{c}-v{gtid}.{s}-k{k}" for c in cur_cols}
                emit("I", gtid, t, s + 1, key=k, after=after)
                alive[k] = True
                emitted["I"] += 1
            else:
                if partial_updates:
                    n_cells = int(rng.integers(1, len(cur_cols) + 1))
                    cells = list(rng.choice(cur_cols, size=n_cells, replace=False))
                else:
                    cells = cur_cols
                after = {c: f"{c}-v{gtid}.{s}-k{k}" for c in cells}
                emit("U", gtid, t, s + 1, key=k, after=after)
                emitted["U"] += 1
        emit("COMMIT", gtid, t, 99, ddl="COMMIT")

    df = pd.DataFrame(rows)
    # epoch assignment: txn-atomic — all events of txn t share its epoch
    # (the v1 invariant: epoch files never split a transaction)
    df["epoch"] = (df["gtid_seq"] * n_epochs // (gtid + 1)).clip(0, n_epochs - 1).astype(int)
    return RichLog(events=df, registry=registry, n_epochs=n_epochs, emitted=emitted)


def write_epoch_files(log: RichLog, out_dir: str, spark: SparkSession) -> list[str]:
    """One plain parquet FILE per epoch, named in replay order — the
    simulated binlog directory a file-source stream tails. Files are written
    sequentially so modification-time order == epoch order (how the file
    source sequences its micro-batches)."""
    import glob
    import shutil
    import tempfile

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for e in range(log.n_epochs):
        sub = log.events[log.events["epoch"] == e].drop(columns=["epoch"])
        sdf = spark.createDataFrame(sub, schema=EVENT_SCHEMA)
        with tempfile.TemporaryDirectory() as td:
            sdf.coalesce(1).write.mode("overwrite").parquet(os.path.join(td, "out"))
            part = glob.glob(os.path.join(td, "out", "part-*.parquet"))[0]
            p = os.path.join(out_dir, f"epoch-{e:05d}.parquet")
            shutil.copyfile(part, p)
        paths.append(p)
    return paths


def write_epoch_files_splitting(log: RichLog, out_dir: str, spark: SparkSession, n_files: int = 8) -> list[str]:
    """Adversarial variant: epoch files cut at arbitrary ROW positions, so
    transactions straddle file (= micro-batch) boundaries. Exercises the v2
    cross-batch uuidBuffer (streaming/txn_store.py); the v1 invariant does
    NOT hold for these files."""
    import glob
    import shutil
    import tempfile

    os.makedirs(out_dir, exist_ok=True)
    df = log.events.drop(columns=["epoch"]).reset_index(drop=True)
    bounds = [round(i * len(df) / n_files) for i in range(n_files + 1)]
    paths = []
    for e in range(n_files):
        sub = df.iloc[bounds[e] : bounds[e + 1]]
        sdf = spark.createDataFrame(sub, schema=EVENT_SCHEMA)
        with tempfile.TemporaryDirectory() as td:
            sdf.coalesce(1).write.mode("overwrite").parquet(os.path.join(td, "out"))
            part = glob.glob(os.path.join(td, "out", "part-*.parquet"))[0]
            p = os.path.join(out_dir, f"chunk-{e:05d}.parquet")
            shutil.copyfile(part, p)
        paths.append(p)
    return paths


def events_df(log: RichLog, spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(log.events.drop(columns=["epoch"]), schema=EVENT_SCHEMA)
