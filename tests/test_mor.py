"""Merge-on-read strategy for ManifestParquetSink.

The MoR path (merge_strategy='mor') must be byte-equivalent to the CoW
path on in-order CDC input (the read-side resolution replays the same
per-key gtid guard + cell-wise LWW the CoW MERGE applies at write), while
its write cost is proportional to the BATCH, not the table. Compaction
(rewrite_data_files) folds deltas back into base files; maintenance ops
must treat delta files as first-class data files.
"""
import datetime as dt
import os

import pytest
from pyspark.sql import Row

from mysql_time_machine_spark.operators.reassemble import COLLAPSED_SCHEMA
from mysql_time_machine_spark.sinks.manifest import ManifestParquetSink

TS = dt.datetime(2024, 1, 1)


def _batch(spark, rows):
    """rows: (path, status, image, full_image, gtid)"""
    return spark.createDataFrame(
        [
            Row(repo="o", path=p, row_status=s, image=img, full_image=fi,
                gtid_seq=g, schema_version=1, updated_ts=TS)
            for p, s, img, fi, g in rows
        ],
        COLLAPSED_SCHEMA,
    )


#: a 3-epoch script exercising insert, partial update, full replace,
#: delete, delete-then-reinsert, and stale (out-of-order) drop — every
#: MERGE clause
EPOCHS = [
    [  # epoch 1: plain inserts
        ("a", "I", {"commit": "c1", "lang": "py", "content": "A"}, True, 10),
        ("b", "I", {"commit": "c1", "lang": "go", "content": "B"}, True, 11),
        ("c", "I", {"commit": "c1", "lang": "rs", "content": "C"}, True, 12),
    ],
    [  # epoch 2: partial cell update, full replace, delete
        ("a", "U", {"content": "A2"}, False, 20),
        ("b", "I", {"commit": "c2", "lang": "go", "content": "B2"}, True, 21),
        ("c", "D", {}, True, 22),
    ],
    [  # epoch 3: reinsert deleted key, stale update dropped by the fence,
        # partial update setting a cell to NULL explicitly
        ("c", "I", {"commit": "c3", "lang": "rs", "content": "C3"}, True, 30),
        ("b", "U", {"content": "STALE"}, False, 5),
        ("a", "U", {"lang": None}, False, 31),
    ],
]


def _pairs(spark, tmp_path, n_buckets=4):
    cow = ManifestParquetSink(spark, str(tmp_path / "cow"), n_buckets=n_buckets)
    mor = ManifestParquetSink(
        spark, str(tmp_path / "mor"), n_buckets=n_buckets, merge_strategy="mor"
    )
    return cow, mor


def _read_sorted(sink, **kw):
    df = sink.read(**kw).toPandas()
    return df.sort_values(["repo", "path"]).reset_index(drop=True)[sorted(df.columns)]


def test_mor_parity_with_cow_every_epoch(spark, tmp_path):
    cow, mor = _pairs(spark, tmp_path)
    for epoch, rows in enumerate(EPOCHS, start=1):
        assert cow.merge(_batch(spark, rows), epoch_id=epoch)
        assert mor.merge(_batch(spark, rows), epoch_id=epoch)
        pc, pm = _read_sorted(cow), _read_sorted(mor)
        assert pc.equals(pm), f"epoch {epoch}:\nCOW\n{pc}\nMOR\n{pm}"
    # MoR wrote deltas, not rewritten buckets
    m = mor.current_manifest()
    assert m.get("delta_buckets"), "mor merge must record delta files"
    assert not m["buckets"], "mor merge must not rewrite base buckets"
    # time travel parity (manifest_at resolves deltas as of that snapshot)
    for snap in (1, 2, 3):
        assert _read_sorted(cow, snapshot_id=snap).equals(
            _read_sorted(mor, snapshot_id=snap)
        )


def test_mor_write_touches_only_batch_sized_files(spark, tmp_path):
    """The scale property: epoch N's write adds files proportional to the
    batch and leaves every earlier file untouched (no CoW rewrite)."""
    _, mor = _pairs(spark, tmp_path)
    mor.merge(_batch(spark, EPOCHS[0]), epoch_id=1)
    files_after_1 = {
        f for fl in mor.current_manifest()["delta_buckets"].values() for f in fl
    }
    mtimes = {f: os.path.getmtime(f) for f in files_after_1}
    mor.merge(_batch(spark, EPOCHS[1]), epoch_id=2)
    m = mor.current_manifest()
    files_after_2 = {f for fl in m["delta_buckets"].values() for f in fl}
    assert files_after_1 < files_after_2
    for f in files_after_1:  # earlier deltas carried by reference, untouched
        assert os.path.getmtime(f) == mtimes[f]


def test_mor_fence_duplicate_epoch(spark, tmp_path):
    _, mor = _pairs(spark, tmp_path)
    assert mor.merge(_batch(spark, EPOCHS[0]), epoch_id=1)
    assert not mor.merge(_batch(spark, EPOCHS[0]), epoch_id=1)  # fenced
    assert len(mor.snapshots()) == 2  # initial + one commit


def test_mor_compaction_folds_deltas(spark, tmp_path):
    cow, mor = _pairs(spark, tmp_path)
    for epoch, rows in enumerate(EPOCHS, start=1):
        cow.merge(_batch(spark, rows), epoch_id=epoch)
        mor.merge(_batch(spark, rows), epoch_id=epoch)
    before = _read_sorted(mor)
    stats = mor.rewrite_data_files()
    assert stats["folded_delta_buckets"] > 0
    m = mor.current_manifest()
    assert not m.get("delta_buckets"), "fold must clear delta files"
    assert m["buckets"], "fold must produce base files"
    for fl in m["buckets"].values():
        assert len(fl) == 1, "each folded bucket compacts to ONE file"
    after = _read_sorted(mor)
    assert before.equals(after)
    assert after.equals(_read_sorted(cow))
    # fence untouched by maintenance
    assert m["epoch_id"] == 3
    # merges continue on the folded base, still parity
    extra = [("d", "I", {"commit": "c4", "lang": "py", "content": "D"}, True, 40),
             ("a", "D", {}, True, 41)]
    cow.merge(_batch(spark, extra), epoch_id=4)
    mor.merge(_batch(spark, extra), epoch_id=4)
    assert _read_sorted(cow).equals(_read_sorted(mor))


def test_cow_merge_on_pending_deltas_raises(spark, tmp_path):
    root = str(tmp_path / "switch")
    mor = ManifestParquetSink(spark, root, n_buckets=4, merge_strategy="mor")
    mor.merge(_batch(spark, EPOCHS[0]), epoch_id=1)
    cow = ManifestParquetSink(spark, root, n_buckets=4)  # same table, cow
    with pytest.raises(ValueError, match="delta files"):
        cow.merge(_batch(spark, EPOCHS[1]), epoch_id=2)
    mor.rewrite_data_files()  # fold, then cow merges are legal again
    assert cow.merge(_batch(spark, EPOCHS[1]), epoch_id=2)


def test_mor_maintenance_treats_deltas_as_data_files(spark, tmp_path):
    """remove_orphan_files must never delete live delta files, and
    expire_snapshots must keep deltas referenced by retained snapshots."""
    _, mor = _pairs(spark, tmp_path)
    for epoch, rows in enumerate(EPOCHS, start=1):
        mor.merge(_batch(spark, rows), epoch_id=epoch)
    before = _read_sorted(mor)
    assert mor.remove_orphan_files(older_than_sec=0)["deleted_files"] == 0
    # expire all but the newest snapshot: every delta is still referenced
    # by the current snapshot (deltas carry by reference), so none die
    mor.expire_snapshots(keep_last=1)
    assert _read_sorted(mor).equals(before)
    # after folding, the old delta files become expired-history residue;
    # expiring down to the folded snapshot lets orphan cleanup reclaim
    # nothing (expire already deleted them) without touching live files
    mor.rewrite_data_files()
    mor.expire_snapshots(keep_last=1)
    assert mor.remove_orphan_files(older_than_sec=0)["deleted_files"] == 0
    assert _read_sorted(mor).equals(before)


def test_mor_schema_evolution_on_read(spark, tmp_path):
    cow, mor = _pairs(spark, tmp_path)
    cow.merge(_batch(spark, EPOCHS[0]), epoch_id=1)
    mor.merge(_batch(spark, EPOCHS[0]), epoch_id=1)
    new_cols = [("commit", "string"), ("lang", "string"), ("content", "string"),
                ("stars", "long")]
    for s in (cow, mor):
        s.evolve_schema(new_cols)
    rows = [("a", "U", {"stars": "5"}, False, 50),
            ("z", "I", {"commit": "c9", "lang": "py", "content": "Z", "stars": "1"},
             True, 51)]
    cow.merge(_batch(spark, rows), epoch_id=2)
    mor.merge(_batch(spark, rows), epoch_id=2)
    pc, pm = _read_sorted(cow), _read_sorted(mor)
    assert pc.equals(pm)
    assert pm.set_index("path").loc["b", "stars"] != pm.set_index("path").loc["a", "stars"]


def test_mor_tombstone_blocks_stale_late_insert(spark, tmp_path):
    """The documented MoR-vs-CoW divergence corner: after a DELETE at
    gtid 100, a STALE insert (gtid 50) delivered late stays dropped under
    MoR (the tombstone keeps its gtid) — the safer semantics."""
    _, mor = _pairs(spark, tmp_path)
    mor.merge(_batch(spark, [("k", "I", {"commit": "c", "lang": "py", "content": "X"},
                              True, 10)]), epoch_id=1)
    mor.merge(_batch(spark, [("k", "D", {}, True, 100)]), epoch_id=2)
    mor.merge(_batch(spark, [("k", "I", {"commit": "c", "lang": "py", "content": "GHOST"},
                              True, 50)]), epoch_id=3)
    assert mor.read().where("path = 'k'").count() == 0


def test_expire_changelog_preserves_delta_buckets(spark, tmp_path):
    _, mor = _pairs(spark, tmp_path)
    cl_schema = (
        "repo string, path string, op string, gtid_seq long, log_file string, "
        "log_pos long, ts timestamp, schema_version int, day_utc string"
    )
    cl = spark.createDataFrame(
        [("o", "a", "I", 10, "binlog.000001", 10, TS, 1, "20240101")], cl_schema
    )
    mor.merge(_batch(spark, EPOCHS[0]), epoch_id=1, changelog=cl)
    before = _read_sorted(mor)
    mor.expire_changelog(older_than_day="20240102")
    m = mor.current_manifest()
    assert m.get("delta_buckets"), "changelog retention must not drop deltas"
    assert _read_sorted(mor).equals(before)


# ---------------------------------------------------------------------------
# randomized parity: a long churn history past Spark's 32-path listing
# threshold, checked against CoW and against a Python model of the MoR rules
# ---------------------------------------------------------------------------

CHURN_EPOCHS = 42
CHURN_KEYS = [f"k{i:02d}" for i in range(24)]
CELLS = ("commit", "lang", "content")


def _model_apply(state, path, status, image, full, gtid):
    """The MoR rules, one version at a time: a version applies iff its
    gtid >= the max gtid seen on the key; a delete empties the row, a full
    image replaces it, a partial image merges cell-wise."""
    st = state.setdefault(path, {"pmax": None, "cells": {}, "live": False, "last": None})
    if st["pmax"] is None or gtid >= st["pmax"]:
        if status == "D":
            st["cells"], st["live"] = {}, False
        else:
            st["cells"] = dict(image) if full else {**st["cells"], **image}
            st["live"] = True
        st["last"] = (status, gtid)
    st["pmax"] = gtid if st["pmax"] is None else max(st["pmax"], gtid)


def _model_rows(state):
    return sorted(
        (p, *(st["cells"].get(c) for c in CELLS), *st["last"])
        for p, st in state.items()
        if st["live"]
    )


def _churn_batches(seed=7):
    """Seeded collapsed batches (one row per key per epoch): inserts,
    partial updates (some setting a cell to NULL explicitly), full-image
    replaces, deletes, delete-then-reinsert, stale out-of-order versions
    and versions at the key's applied gtid. ``hot`` is touched in every
    epoch. Stale inserts after a delete only hit ``ghost*`` keys: CoW
    resurrects those (its row guard forgets the tombstone), so they stay
    out of the CoW comparison."""
    import random

    rng = random.Random(seed)
    live: dict[str, int] = {}  # path -> gtid of its latest applied version
    tombstone: dict[str, int] = {}  # ghost path -> its delete's gtid
    g = 0
    out = []
    for epoch in range(1, CHURN_EPOCHS + 1):
        rows = []
        for p in ["hot", *rng.sample(CHURN_KEYS, 6)]:
            g += 1
            r = rng.random()
            if p not in live:
                img = {"commit": f"c{g}", "lang": rng.choice(["py", None]), "content": f"v{g}"}
                rows.append((p, "I", img, True, g))
                live[p] = g
            elif r < 0.15:
                rows.append((p, "D", {}, True, g))
                del live[p]
            elif r < 0.3:
                img = {"commit": f"c{g}", "lang": "go", "content": f"f{g}"}
                rows.append((p, rng.choice("IU"), img, True, g))
                live[p] = g
            elif r < 0.42:
                # stale: below the key's applied gtid, the fence drops it
                rows.append((p, "U", {"content": "STALE"}, False, live[p] - rng.randint(1, 3)))
                g -= 1
            elif r < 0.48:
                # at the key's applied gtid: the guard is >=, so it applies
                rows.append((p, "U", {"content": f"again{g}"}, False, live[p]))
                g -= 1
            else:
                cells = {c: f"{c}{g}" for c in rng.sample(CELLS, rng.randint(1, 2))}
                if rng.random() < 0.3:
                    cells["lang"] = None  # explicit NULL wins over the old cell
                rows.append((p, "U", cells, False, g))
                live[p] = g
        # ghost key: insert, delete next epoch, then a stale re-insert
        # below the tombstone the epoch after
        phase, gp = epoch % 5, f"ghost{epoch - epoch % 5}"
        if phase in (0, 1, 2) and epoch >= 5:
            g += 1
            if phase == 0:
                rows.append((gp, "I", {"commit": "c", "lang": "py", "content": "G"}, True, g))
            elif phase == 1:
                rows.append((gp, "D", {}, True, g))
                tombstone[gp] = g
            else:
                rows.append((gp, "I", {"commit": "c", "lang": "py", "content": "GHOST"},
                             True, tombstone[gp] - 1))
        out.append(rows)
    return out


@pytest.fixture(scope="module")
def churn(spark, tmp_path_factory):
    """Both strategies fed the same churn, plus the model state after each
    epoch (snapshot id == epoch id: one commit per epoch, none before)."""
    root = tmp_path_factory.mktemp("churn")
    cow = ManifestParquetSink(spark, str(root / "cow"), n_buckets=2)
    mor = ManifestParquetSink(spark, str(root / "mor"), n_buckets=2, merge_strategy="mor")
    state: dict = {}
    models = {}
    for epoch, rows in enumerate(_churn_batches(), start=1):
        assert cow.merge(_batch(spark, rows), epoch_id=epoch)
        assert mor.merge(_batch(spark, rows), epoch_id=epoch)
        for r in rows:
            _model_apply(state, *r)
        models[epoch] = _model_rows(state)
    return cow, mor, models


def _rows(df):
    return sorted(
        tuple(r) for r in df.select("path", *CELLS, "row_status", "gtid_seq").collect()
    )


def _no_ghosts(rows):
    return [r for r in rows if not r[0].startswith("ghost")]


def test_mor_churn_parity_every_snapshot(spark, churn):
    cow, mor, models = churn
    m = mor.current_manifest()
    assert sum(len(v) for v in m["delta_buckets"].values()) > 32
    # the stale-insert-after-delete corner: CoW resurrects, MoR does not
    assert any(r[0].startswith("ghost") for r in _rows(cow.read()))
    assert not any(r[0].startswith("ghost") for r in _rows(mor.read()))
    for sid in range(1, CHURN_EPOCHS + 1):
        got = _rows(mor.read(snapshot_id=sid))
        assert got == models[sid], f"snapshot {sid}: MoR != model"
        assert _no_ghosts(got) == _no_ghosts(_rows(cow.read(snapshot_id=sid))), (
            f"snapshot {sid}: MoR != CoW"
        )


def test_mor_churn_as_of_gtid_matches_cow(spark, churn):
    cow, mor, models = churn
    chain = mor.snapshots()
    for m in chain[1::6]:
        for bound in (m["max_gtid_seq"], m["max_gtid_seq"] + 1):
            got = _rows(mor.snapshot_as_of_gtid(bound))
            assert _no_ghosts(got) == _no_ghosts(_rows(cow.snapshot_as_of_gtid(bound)))
            sid = max(c["snapshot_id"] for c in chain if c["max_gtid_seq"] <= bound)
            assert got == models[sid]


def test_mor_churn_compaction_equals_pre_fold_read(spark, churn, tmp_path):
    """Compact a copy of the churned table (manifests hold absolute file
    paths, so the copy's reads still resolve the original delta files)."""
    import shutil

    _, mor, models = churn
    root = str(tmp_path / "mor")
    shutil.copytree(mor.root, root)
    sink = ManifestParquetSink(spark, root, n_buckets=2, merge_strategy="mor")
    before = _rows(sink.read())
    assert sink.rewrite_data_files()["folded_delta_buckets"] > 0
    assert not sink.current_manifest().get("delta_buckets")
    assert _rows(sink.read()) == before == models[CHURN_EPOCHS]


def test_mor_read_plan_one_exchange_and_no_jobs(spark, churn):
    """Building a MoR read over >32 delta files runs no Spark job (the
    manifest names every file, so nothing needs a listing job), and the
    resolve is one aggregate behind one key exchange: no Window, no
    checkpoint RDD."""
    _, mor, _ = churn
    sc = spark.sparkContext
    group = "mor-read-plan-build"
    sc.setJobGroup(group, "build the MoR read plan")
    try:
        qe = mor.read()._jdf.queryExecution()
        optimized = qe.optimizedPlan().toString()
        physical = qe.executedPlan().toString()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    for node in ("Window", "LogicalRDD"):
        assert node not in optimized, optimized
    exchanges = [ln for ln in physical.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, physical
    assert "hashpartitioning(repo#" in exchanges[0] and ", path#" in exchanges[0]
    assert "Scan ExistingRDD" not in physical
