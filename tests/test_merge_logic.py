"""Sink-agnostic MERGE semantics (SURVEY.md §2.4 J1) — one clause builder,
three implementations, identical tables.

The IcebergSink is jar-gated in this sandbox, so its MERGE INTO SQL cannot
run against a real catalog here. Instead, ``simulate_merge`` replays the
SAME condition/assignment SQL fragments (merge_logic.py) as a DataFrame
full-outer join, and these tests assert the ManifestParquetSink produces
the identical post-merge table — covering the round-1 divergence: a
matched 'I' row with a legitimately-NULL cell must fully replace the
stored row (not cell-coalesce), and a 'U' cell explicitly set to NULL must
become NULL."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from mysql_time_machine_spark.operators.reassemble import (
    COLLAPSED_SCHEMA,
    collapse_events_sorted,
    collapse_events_sql,
)
from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink
from mysql_time_machine_spark.sinks.merge_logic import simulate_merge

COLS = [("commit", "string"), ("lang", "string"), ("content", "string")]
TS = dt.datetime(2024, 1, 1)


def _collapsed(spark, rows):
    return spark.createDataFrame(
        [Row(repo=r, path=p, row_status=s, image=img, full_image=fi, gtid_seq=g,
             schema_version=1, updated_ts=TS)
         for (r, p, s, img, fi, g) in rows],
        COLLAPSED_SCHEMA,
    )


def _seed_rows():
    """Epoch-1 batch: full images for four keys."""
    return [
        ("o", f"k{i}", "I", {"commit": f"c{i}", "lang": "py", "content": f"body{i}"}, True, 10)
        for i in range(1, 6)
    ]


def _test_batch():
    """Epoch-2 batch exercising every MERGE branch."""
    return [
        # matched full-image whose image LACKS content -> replace, content NULL
        ("o", "k1", "I", {"commit": "c1b", "lang": "go"}, True, 20),
        # matched partial 'U' -> only lang changes
        ("o", "k2", "U", {"lang": "rs"}, False, 20),
        # matched 'U' with a cell EXPLICITLY set to NULL -> content NULL, rest kept
        ("o", "k3", "U", {"content": None}, False, 20),
        # matched 'D' -> row gone
        ("o", "k4", "D", None, True, 20),
        # STALE matched update (gtid below stored) -> no-op
        ("o", "k5", "U", {"lang": "stale"}, False, 5),
        # unmatched 'I' -> insert
        ("o", "k9", "I", {"commit": "c9", "lang": "py", "content": "body9"}, True, 20),
        # unmatched 'D' -> no-op
        ("o", "k10", "D", None, True, 20),
    ]


def _canon(df):
    cols = sorted(df.columns)
    return sorted([tuple(str(row[c]) for c in cols) for row in df.collect()])


def test_manifest_merge_matches_shared_clause_simulation(spark, tmp_path):
    seed = _collapsed(spark, _seed_rows())
    batch = _collapsed(spark, _test_batch())

    sink = ManifestParquetSink(spark, str(tmp_path / "sink"), business_columns=COLS, n_buckets=4)
    assert sink.merge(seed, epoch_id=1)
    target_state = sink.read()
    assert sink.merge(batch, epoch_id=2)
    got = sink.read()

    expected = simulate_merge(target_state, batch, COLS)

    assert _canon(got) == _canon(expected)
    # spot-check the round-1 divergence cases directly
    rows = {r["path"]: r for r in got.collect()}
    assert rows["k1"]["content"] is None and rows["k1"]["lang"] == "go"  # I = full replace
    assert rows["k2"]["lang"] == "rs" and rows["k2"]["content"] == "body2"  # U = cell merge
    assert rows["k3"]["content"] is None and rows["k3"]["commit"] == "c3"  # U null cell
    assert "k4" not in rows and "k10" not in rows
    assert rows["k5"]["lang"] == "py"  # stale fenced
    assert rows["k9"]["commit"] == "c9"


def test_iceberg_statement_text():
    """The jar-gated IcebergSink path, pinned jarless: every statement the
    sink would issue comes from pure builders — bootstrap must create the
    CHANGELOG table beside the fence table (a fresh catalog's first epoch
    with a changelog previously died on table-not-found), day-partitioned
    via hidden days(ts); the MERGE must carry the shared clause builder's
    conditions; evolve_schema must persist the rich engine types in table
    properties."""
    from mysql_time_machine_spark.sinks.iceberg import (
        COLUMNS_PROP,
        add_column_statement,
        bootstrap_statements,
        changelog_replay_statements,
        column_props_statement,
        merge_statement,
    )

    boot = bootstrap_statements("lake.repos", "lake.repos_fence")
    assert boot == [
        "CREATE TABLE IF NOT EXISTS lake.repos_fence "
        "(job_id STRING, epoch_id BIGINT, max_gtid_seq BIGINT, lineage STRING) USING iceberg",
        "CREATE TABLE IF NOT EXISTS lake.repos_changelog "
        "(repo STRING, path STRING, op STRING, gtid_seq BIGINT, log_file STRING, "
        "log_pos BIGINT, ts TIMESTAMP, schema_version INT, day_utc STRING, epoch_id BIGINT) "
        "USING iceberg PARTITIONED BY (days(ts))",
    ]

    m = merge_statement("lake.repos", COLS)
    assert "MERGE INTO lake.repos t" in m
    assert "WHEN MATCHED AND b.row_status = 'D' AND b.gtid_seq >= t.gtid_seq THEN DELETE" in m
    assert "map_contains_key(b.image, 'lang')" in m
    assert "WHEN NOT MATCHED AND b.row_status != 'D'" in m
    assert "INSERT (repo, path, row_status, gtid_seq, schema_version, updated_ts, commit, lang, content)" in m

    assert changelog_replay_statements("lake.repos", 7) == [
        "DELETE FROM lake.repos_changelog WHERE epoch_id = 7"
    ]
    # rich types: time2/latin1/enum decode to STRING in DDL, survive in props
    assert add_column_statement("lake.repos", "dur", "time2") == (
        "ALTER TABLE lake.repos ADD COLUMN dur STRING"
    )
    props = column_props_statement("lake.repos", COLS + [("dur", "time2")])
    assert props.startswith(f"ALTER TABLE lake.repos SET TBLPROPERTIES ('{COLUMNS_PROP}'")
    assert '["dur", "time2"]' in props


def test_iceberg_maintenance_statement_text():
    """Retention on the jar-backed sink, pinned jarless — the Iceberg
    twin of the manifest sink's expire_snapshots/expire_changelog."""
    from mysql_time_machine_spark.sinks.iceberg import maintenance_statements

    got = maintenance_statements(
        "lake.repos", retain_last=5, changelog_older_than_day="20240101"
    )
    assert got == [
        "CALL spark_catalog.system.rewrite_data_files(table => 'lake.repos', "
        "options => map('min-input-files', '2'))",
        "CALL spark_catalog.system.expire_snapshots(table => 'lake.repos', retain_last => 5)",
        "CALL spark_catalog.system.remove_orphan_files(table => 'lake.repos')",
        "DELETE FROM lake.repos_changelog WHERE day_utc < '20240101'",
    ]
    # compaction must come FIRST: expire afterwards reclaims the rewritten
    # small files once no retained snapshot references them
    assert len(maintenance_statements("lake.repos")) == 3  # no changelog bound
    assert len(maintenance_statements("lake.repos", compact=False)) == 2


def test_iceberg_resume_protocol_two_epochs_with_alter():
    """The FULL ordered SQL a crash-resume scenario drives through the
    jar-gated sink, pinned jarless: epoch 1 on a fresh catalog; epoch 2
    carries a mid-stream ALTER (ADD COLUMN stars BIGINT) and crashes after
    the changelog append but BEFORE the fence append; the restarted job
    replays epoch 2. The replay must (a) re-bootstrap with IF NOT EXISTS
    only, (b) apply schema evolution BEFORE the fence probe (the real
    driving order: ApplyJob calls evolve_schema, then merge() probes the
    fence) but NOT re-issue the ALTER (the column survived the crash)
    while still re-pinning the rich-type TBLPROPERTIES, (c) DELETE the
    crashed epoch's changelog rows before re-appending, and (d) append
    the fence row strictly last."""
    from mysql_time_machine_spark.sinks.iceberg import (
        bootstrap_statements,
        epoch_statement_plan,
    )

    T, FT, J = "lake.repos", "lake.repos_fence", "job1"
    V2 = COLS + [("stars", "long")]
    fence_probe = f"SELECT max(epoch_id) AS e FROM {FT} WHERE job_id = '{J}'"

    trace = (
        bootstrap_statements(T, FT)
        + epoch_statement_plan(T, FT, J, 1, COLS)
        + epoch_statement_plan(T, FT, J, 2, V2, new_columns=[("stars", "long")],
                               crash_before_fence=True)
        # ---- crash; restart ----
        + bootstrap_statements(T, FT)
        + epoch_statement_plan(T, FT, J, 2, V2)  # column exists: no ALTER
    )

    # bootstrap is replay-safe: every CREATE is IF NOT EXISTS
    creates = [s for s in trace if s.startswith("CREATE")]
    assert len(creates) == 4 and all("IF NOT EXISTS" in s for s in creates)

    # the ALTER happens exactly once, in the pre-crash epoch 2, BEFORE
    # that epoch's fence probe (evolve_schema runs first on the real
    # driving path) and before its MERGE
    alters = [i for i, s in enumerate(trace) if s.startswith("ALTER TABLE lake.repos ADD")]
    assert len(alters) == 1
    assert trace[alters[0]] == "ALTER TABLE lake.repos ADD COLUMN stars BIGINT"
    probe_2 = [i for i, s in enumerate(trace) if s == fence_probe][1]
    merge_2 = [i for i, s in enumerate(trace) if s.startswith("MERGE INTO")][1]
    assert alters[0] < probe_2 < merge_2

    # rich-type props re-pinned on EVERY epoch incl. the replay (a cold
    # restart that merges before any DDL must still decode time2/latin1)
    assert sum(s.startswith("ALTER TABLE lake.repos SET TBLPROPERTIES") for s in trace) == 3

    # the crashed epoch left changelog rows; the replay deletes THEM first
    delete_2 = [i for i, s in enumerate(trace)
                if s == "DELETE FROM lake.repos_changelog WHERE epoch_id = 2"]
    cl_appends = [i for i, s in enumerate(trace) if s == "APPEND lake.repos_changelog"]
    assert len(delete_2) == 2  # pre-crash run and replay
    assert delete_2[1] < cl_appends[-1]

    # fences: epoch 1 committed, crashed epoch 2 has NO fence append, the
    # replay's fence append is the FINAL statement of the whole trace
    fence_appends = [i for i, s in enumerate(trace) if s == f"APPEND {FT}"]
    assert len(fence_appends) == 2
    assert fence_appends[-1] == len(trace) - 1
    # the post-crash replay MERGE (v2 columns) includes the evolved column
    replay_merge = [s for s in trace if s.startswith("MERGE INTO")][-1]
    assert "stars" in replay_merge and "b.gtid_seq >= t.gtid_seq" in replay_merge


def test_kafka_updated_ts_is_utc_regardless_of_session_tz(spark):
    """The wire record's updated_ts hard-codes a 'Z' suffix — the rendered
    wall-clock must really be UTC even when the session timezone is not."""
    import json

    from mysql_time_machine_spark.sinks.kafka import format_kafka_batch

    batch = _collapsed(
        spark, [("o", "k1", "I", {"commit": "c", "lang": "py", "content": "x"}, True, 7)]
    )
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        rec = format_kafka_batch(batch, COLS).head()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    # TS was created under a UTC session: instant == 2024-01-01T00:00:00Z
    assert json.loads(rec["value"])["updated_ts"] == "2024-01-01T00:00:00Z"


def _ev(repo, path, op, after, gtid, seq=0):
    return Row(
        log_file="binlog.000001", log_pos=gtid, gtid=f"u:{gtid}", gtid_seq=gtid,
        txn_id=gtid, seq_in_txn=seq, server_id=1,
        ts=TS + dt.timedelta(seconds=gtid), op=op, schema_version=1,
        repo=repo, path=path, before=None, after=after, ddl=None,
    )


def test_full_image_flag_all_kernels(spark):
    """A key whose epoch contains a reset (I or D) collapses with
    full_image=true (the image is the complete post-reset state, so the
    sink replaces instead of merging stale pre-reset cells); row_status
    stays the reference's last-op marker."""
    from mysql_time_machine_spark.schema import EVENT_SCHEMA

    events = spark.createDataFrame(
        [
            # k1: D then U -> resurrection; image = U cells only, full_image
            _ev("o", "k1", "D", None, 11),
            _ev("o", "k1", "U", {"lang": "res"}, 12),
            # k2: I then U -> full_image, image = I overlaid with U
            _ev("o", "k2", "I", {"commit": "c", "lang": "py"}, 13),
            _ev("o", "k2", "U", {"lang": "go"}, 14),
            # k3: pure U -> partial
            _ev("o", "k3", "U", {"lang": "u"}, 15),
            # k4: U then D -> delete
            _ev("o", "k4", "U", {"lang": "x"}, 16),
            _ev("o", "k4", "D", None, 17),
        ],
        EVENT_SCHEMA,
    )
    for impl in (collapse_events_sorted, collapse_events_sql):
        got = {r["path"]: r for r in impl(events).collect()}
        assert got["k1"]["row_status"] == "U" and got["k1"]["full_image"], impl
        assert got["k1"]["image"] == {"lang": "res"}
        assert got["k2"]["row_status"] == "U" and got["k2"]["full_image"]
        assert got["k2"]["image"] == {"commit": "c", "lang": "go"}
        assert got["k3"]["row_status"] == "U" and not got["k3"]["full_image"]
        assert got["k4"]["row_status"] == "D" and got["k4"]["image"] is None


def test_delete_then_update_does_not_resurrect_old_cells(spark, tmp_path):
    """End-to-end: stored row {commit,lang,content}; next epoch deletes the
    key then partially updates it. The final row must carry ONLY the
    post-delete cells — pre-delete cells must not leak through the merge."""
    from mysql_time_machine_spark.schema import EVENT_SCHEMA

    sink = ManifestParquetSink(spark, str(tmp_path / "sink2"), business_columns=COLS, n_buckets=4)
    seed = _collapsed(
        spark, [("o", "k1", "I", {"commit": "old", "lang": "old", "content": "old"}, True, 10)]
    )
    assert sink.merge(seed, epoch_id=1)

    events = spark.createDataFrame(
        [_ev("o", "k1", "D", None, 20), _ev("o", "k1", "U", {"lang": "new"}, 21)],
        EVENT_SCHEMA,
    )
    assert sink.merge(collapse_events_sorted(events), epoch_id=2)
    row = sink.read().where(F.col("path") == "k1").head()
    assert row["lang"] == "new"
    assert row["commit"] is None and row["content"] is None  # no resurrection


# ---------------------------------------------------------------------------
# Kafka applier record shape (S6) — brokerless
# ---------------------------------------------------------------------------


def test_kafka_record_shape(spark):
    """key = salted reference row key; value = JSON row or NULL tombstone
    for deletes; topic namespace-routed. The wire send is jar-gated; the
    projection is the testable contract."""
    import hashlib
    import json

    from mysql_time_machine_spark.sinks.kafka import format_kafka_batch

    batch = _collapsed(
        spark,
        [
            ("org0/r1", "src/a.py", "I", {"commit": "c", "lang": "py", "content": "x"}, True, 7),
            ("org5/r9", "src/b.py", "D", None, True, 8),
        ],
    )
    recs = {
        r["key"]: r
        for r in format_kafka_batch(
            batch, COLS, topic="repos", namespace_rules=[("^org0/", "hot")]
        ).collect()
    }
    pk = "org0/r1;src/a.py"
    k = hashlib.md5(pk.encode()).hexdigest()[:8] + ";" + pk
    assert k in recs
    assert recs[k]["topic"] == "hot.repos"
    v = json.loads(recs[k]["value"])
    assert v["commit"] == "c" and v["gtid_seq"] == 7 and v["row_status"] == "I"
    dk = next(key for key in recs if key.endswith("org5/r9;src/b.py"))
    assert recs[dk]["value"] is None  # compacted-topic tombstone
    assert recs[dk]["topic"] == "default.repos"
